"""fct_keyword_trends re-expressed (dbt/models/marts/trends/fct_keyword_trends.sql).

Per (keyword, geo) daily series: 7/30-day trailing averages (sql:24-34),
WoW/MoM lag deltas (sql:37-46), the centered-window peak flag (sql:49-57),
and the recency rank (sql:60-63). Requires a contiguous daily series per
keyword (FIXTURES.md trends note) — row frames equal day offsets."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def fct_keyword_trends(interest: DataFrame) -> DataFrame:
    w = W.partitionBy("keyword", "geo").orderBy("date")
    wrec = W.partitionBy("keyword", "geo").orderBy(F.col("date").desc())
    i = F.col("interest")
    return interest.select(
        "keyword",
        "geo",
        "date",
        "interest",
        F.round(F.avg(i).over(w.rowsBetween(-6, 0)), 4).alias("interest_7d_avg"),
        F.round(F.avg(i).over(w.rowsBetween(-29, 0)), 4).alias("interest_30d_avg"),
        (i - F.lag(i, 7).over(w)).alias("wow_change"),
        (i - F.lag(i, 30).over(w)).alias("mom_change"),
        (
            F.lag(i, 3).over(w).isNotNull()
            & F.lead(i, 3).over(w).isNotNull()
            & (i >= F.max(i).over(w.rowsBetween(-3, 3)))
        ).alias("is_local_peak"),
        F.row_number().over(wrec).alias("recency_rank"),
    )
