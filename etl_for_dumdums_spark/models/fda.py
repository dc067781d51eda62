"""FDA food models re-expressed: the reference's regex-categorization chain.

  * ``stg_food_events`` — per-report dedup preferring the Suspect product
    row (CASE in the window ORDER BY — stg_fda__food_events.sql:17-29),
    gender normalization (fct_fda_events_by_gender.sql:21-27) and
    coalesce(date_started, date_created) (sql:78).
  * ``int_food_event_reactions`` — the array idiom: one regex flag per
    symptom category, collected with array+filter, defaulting to ['Other']
    (int_fda__food_event_reactions.sql:35-158).
  * ``fct_events_by_reaction`` — explode + conditional distinct counts
    (fct_fda_events_by_reaction.sql:18-40).
  * ``int_recall_topics`` / ``fct_recalls_by_topic`` — topic regexes +
    the hand-built UNION ALL rollup rows (int_fda__recall_topics.sql:28-77,
    fct_fda_recalls_by_topic.sql:72-108).

All regex matching is unanchored rlike on lowered text; the patterns use
only the alternation/word subset that is identical in Java and RE2
(SURVEY.md §7.4 dialect note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# the full 36 symptom patterns from int_fda__food_event_reactions.sql:35-79,
# grouped into the reference's category roll-ups; each category's combined
# pattern is the alternation of its member patterns (≡ OR of the is_* flags)
REACTION_ITEMS: dict[str, list[str]] = {
    "Gastrointestinal": [
        r"diarrhoea|diarrhea",
        r"\bvomiting\b",
        r"\bnausea\b",
        r"abdominal\s*pain|stomach\s*pain",
        r"dyspepsia|indigestion",
        r"abdominal\s*distension|bloating",
        r"\bconstipation\b",
    ],
    "Allergic": [
        r"hypersensitivity|allergic\s*reaction",
        r"\bpruritus\b|itching",
        r"\brash\b",
        r"\burticaria\b|hives",
        r"anaphyla|anaphylactic",
        r"\bswelling\b|oedema|edema|angioedema",
    ],
    "Respiratory": [
        r"dyspnoea|dyspnea|shortness\s*of\s*breath|breathing\s*difficult",
        r"\bchoking\b",
        r"\bdysphagia\b|difficulty\s*swallowing",
        r"\basthma\b|bronchospasm",
        r"\bcough\b|wheezing",
    ],
    "Cardiovascular": [
        r"blood\s*pressure\s*(increased|elevated|high)",
        r"heart\s*rate\s*(increased|elevated)|tachycardia",
        r"chest\s*pain",
        r"\bpalpitations\b",
        r"arrhythmia|irregular\s*heart",
    ],
    "Neurological": [
        r"\bheadache\b",
        r"\bdizziness\b|vertigo",
        r"loss\s*of\s*consciousness|syncope|faint",
        r"\btremor\b",
        r"paraesthesia|paresthesia|tingling|numbness",
        r"\bseizure\b|convulsion",
    ],
    "Systemic": [
        r"\bmalaise\b",
        r"\bfatigue\b|tiredness",
        r"\basthenia\b|weakness",
        r"\bpyrexia\b|\bfever\b",
        r"\bchills\b",
        r"\bdehydration\b",
    ],
}

REACTION_CATEGORIES = [
    (cat, "|".join(pats)) for cat, pats in REACTION_ITEMS.items()
]

# the full 16 recall-topic regexes from int_fda__recall_topics.sql:28-47
_UNDECLARED = r"(undeclared|unlisted|undisclosed|not\s+declar|fail.*declar|without.*list|omitted)[\w\s,]*"
RECALL_TOPICS = [
    ("listeria", r"listeria|l\.\s*monocytogenes"),
    ("salmonella", r"salmonella"),
    ("e_coli", r"e\.?\s*coli|escherichia"),
    ("other_pathogen", r"clostridium|botulism|cronobacter|hepatitis|norovirus|cyclospora"),
    ("milk", _UNDECLARED + r"\b(milk|dairy|cream|butter|cheese|lactose)\b|\bmilk\b.*allergen|allergen.*\bmilk\b"),
    ("eggs", _UNDECLARED + r"\beggs?\b|\beggs?\b.*allergen|allergen.*\beggs?\b"),
    ("peanuts", _UNDECLARED + r"\bpeanuts?\b|\bpeanuts?\b.*allergen|allergen.*\bpeanuts?\b"),
    ("tree_nuts", _UNDECLARED + r"\b(almond|walnut|cashew|pecan|pistachio|hazelnut|macadamia|tree\s*nut)|\b(almond|walnut|cashew|pecan|pistachio).*allergen"),
    ("wheat", _UNDECLARED + r"\b(wheat|gluten)\b|\b(wheat|gluten)\b.*allergen|allergen.*\b(wheat|gluten)\b"),
    ("soy", _UNDECLARED + r"\bsoy(bean)?\b|\bsoy\b.*allergen|allergen.*\bsoy\b"),
    ("fish", _UNDECLARED + r"\b(fish|anchov|cod|salmon|tuna|tilapia)\b"),
    ("shellfish", _UNDECLARED + r"\b(shellfish|shrimp|crab|lobster|crustacean|crawfish|prawn)\b"),
    ("sesame", _UNDECLARED + r"\bsesame\b|\bsesame\b.*allergen|allergen.*\bsesame\b"),
    ("foreign_material", r"foreign\s*(material|object|matter|body)|plastic.*(piece|fragment|found|present)|metal.*(piece|fragment|shaving)|glass.*(piece|fragment)|wood.*(particle|chip|piece)"),
    ("labeling", r"mislabel|misbranded|incorrect.*label|label.*incorrect|fail.*label|label.*fail|does not (include|declare|list)|not properly.*label"),
    ("temperature", r"temperature\s*(abuse|excursion)|improper.*temperature|cold chain"),
]
PATHOGEN_TOPICS = ["listeria", "salmonella", "e_coli", "other_pathogen"]
ALLERGEN_TOPICS = [
    "milk", "eggs", "peanuts", "tree_nuts", "wheat", "soy", "fish", "shellfish", "sesame",
]


def stg_food_events(raw: DataFrame) -> DataFrame:
    """One row per report_number, preferring products_role='Suspect', then
    latest date_created; normalized gender; coalesced start date."""
    pref = F.when(F.col("products_role") == "Suspect", 0).otherwise(1)
    w = W.partitionBy("report_number").orderBy(
        pref, F.col("date_created").desc(), F.col("products_brand_name").asc_nulls_last()
    )
    gender = F.upper(F.trim(F.col("consumer_gender")))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn(
            "gender",
            F.when(gender.isin("F", "FEMALE"), "Female")
            .when(gender.isin("M", "MALE"), "Male")
            .otherwise("Unknown"),
        )
        .withColumn("event_date", F.coalesce(F.col("date_started"), F.col("date_created")))
        .withColumn("event_year", F.year("event_date"))
    )


def _category_array(col, categories):
    """array(select cat where regex matches) with filter-nulls + ['Other']
    default — the reference's array construction idiom."""
    low = F.lower(F.coalesce(col, F.lit("")))
    flags = F.array_compact(
        F.array(*[F.when(low.rlike(pat), F.lit(name)) for name, pat in categories])
    )
    return F.when(F.size(flags) == 0, F.array(F.lit("Other"))).otherwise(flags)


def int_food_event_reactions(stg: DataFrame) -> DataFrame:
    low = F.lower(F.coalesce(F.col("reactions"), F.lit("")))
    flags = [
        F.coalesce(low.rlike(pat), F.lit(False)).alias(f"has_{name.lower()}")
        for name, pat in REACTION_CATEGORIES
    ]
    arr = _category_array(F.col("reactions"), REACTION_CATEGORIES)
    return stg.filter(F.col("reactions").isNotNull()).select(
        "report_number",
        "gender",
        "outcomes",
        "event_year",
        F.date_trunc("month", F.col("event_date")).cast("date").alias("event_month_start"),
        arr.alias("reaction_categories"),
        F.size(arr).alias("reaction_count"),
        *flags,
    )


def fct_events_by_reaction(int_reactions: DataFrame) -> DataFrame:
    """Explode + per-category conditional distinct counts."""
    exploded = int_reactions.select(
        "report_number",
        "outcomes",
        "event_year",
        F.explode("reaction_categories").alias("category"),
    )
    hosp = F.lower(F.coalesce(F.col("outcomes"), F.lit(""))).rlike("hospitalization")
    return (
        exploded.groupBy("category")
        .agg(
            F.count_distinct("report_number").alias("n_reports"),
            F.count_distinct(F.when(hosp, F.col("report_number"))).alias("n_hospitalized"),
            F.min("event_year").alias("first_year"),
            F.max("event_year").alias("last_year"),
        )
    )


def fct_events_by_gender(stg: DataFrame) -> DataFrame:
    """Gender split with pct-of-total and hospitalization ratios
    (fct_fda_events_by_gender.sql:33-71)."""
    hosp = F.lower(F.coalesce(F.col("outcomes"), F.lit(""))).rlike("hospitalization")
    per = stg.groupBy("gender").agg(
        F.count_distinct("report_number").alias("n_reports"),
        F.count_distinct(F.when(hosp, F.col("report_number"))).alias("n_hospitalized"),
    )
    wtot = W.partitionBy()
    return per.select(
        "gender",
        "n_reports",
        "n_hospitalized",
        F.round(F.col("n_reports") * 100.0 / F.sum("n_reports").over(wtot), 4).alias(
            "pct_of_reports"
        ),
        F.round(F.col("n_hospitalized") * 100.0 / F.col("n_reports"), 4).alias("pct_hospitalized"),
    )


def fct_events_monthly(int_reactions: DataFrame) -> DataFrame:
    """Monthly event counts + per-category flag counts + severity +
    demographics (fct_fda_events_monthly.sql:14-45)."""
    out = F.lower(F.coalesce(F.col("outcomes"), F.lit("")))
    return (
        int_reactions.filter(F.col("event_month_start").isNotNull())
        .groupBy(F.col("event_month_start").alias("month"))
        .agg(
            F.count_distinct("report_number").alias("event_count"),
            *[
                F.count_if(F.col(f"has_{name.lower()}")).alias(f"{name.lower()}_count")
                for name, _ in REACTION_CATEGORIES
            ],
            F.count_distinct(
                F.when(out.rlike("hospitalization"), F.col("report_number"))
            ).alias("hospitalization_count"),
            F.count_distinct(F.when(out.rlike("death"), F.col("report_number"))).alias(
                "death_count"
            ),
            F.count_if(F.col("gender") == "Female").alias("female_count"),
            F.count_if(F.col("gender") == "Male").alias("male_count"),
            F.round(F.avg("reaction_count"), 2).alias("avg_reactions_per_event"),
        )
    )


def fct_events_by_product(stg: DataFrame, int_reactions: DataFrame) -> DataFrame:
    """Per industry: report counts + the industry's top reaction category
    via rank=1 window (fct_fda_events_by_product.sql:22-42)."""
    base = stg.select("report_number", "products_industry_name").join(
        int_reactions.select("report_number", F.explode("reaction_categories").alias("category")),
        "report_number",
    )
    totals = stg.groupBy(F.col("products_industry_name").alias("industry")).agg(
        F.count_distinct("report_number").alias("n_reports")
    )
    per_cat = base.groupBy(
        F.col("products_industry_name").alias("industry"), "category"
    ).agg(F.count_distinct("report_number").alias("n"))
    w = W.partitionBy("industry").orderBy(F.col("n").desc(), F.col("category"))
    top = (
        per_cat.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("industry", F.col("category").alias("top_reaction"), F.col("n").alias("top_reaction_reports"))
    )
    return totals.join(top, "industry", "left")


# inline state lookup (subset of the 56-element literal table at
# fct_fda_recalls_by_state.sql:18-75)
STATE_NAMES = [
    ("CA", "California"),
    ("NY", "New York"),
    ("TX", "Texas"),
    ("IA", "Iowa"),
    ("WA", "Washington"),
]


def fct_recalls_by_state(raw_recalls: DataFrame, spark) -> DataFrame:
    """US recalls per state joined to the inline literal name table with
    per-classification countifs (fct_fda_recalls_by_state.sql:146-155)."""
    lookup = spark.createDataFrame(STATE_NAMES, ["state_code", "state_name"])
    base = raw_recalls.filter(
        (F.col("country") == "United States") & (F.col("recall_number") != "nan")
    )
    per_state = base.groupBy("state").agg(
        F.count_distinct("recall_number").alias("n_recalls"),
        F.count_if(F.col("classification") == "Class I").alias("class_i_count"),
        F.count_if(F.col("classification") == "Class II").alias("class_ii_count"),
        F.count_if(F.col("classification") == "Class III").alias("class_iii_count"),
    )
    return (
        per_state.join(F.broadcast(lookup), per_state.state == lookup.state_code, "left")
        .select(
            "state",
            F.coalesce(F.col("state_name"), F.lit("Unknown")).alias("state_name"),
            "n_recalls",
            "class_i_count",
            "class_ii_count",
            "class_iii_count",
        )
    )


def int_recall_topics(raw_recalls: DataFrame) -> DataFrame:
    """US-only, non-'nan' recalls with their topic arrays
    (stg_fda__recalls.sql:56-62 filters + int_fda__recall_topics.sql)."""
    return raw_recalls.filter(
        (F.col("country") == "United States") & (F.col("recall_number") != "nan")
    ).select(
        "recall_number",
        "classification",
        _category_array(F.col("reason_for_recall"), RECALL_TOPICS).alias("topics"),
    )


def fct_recalls_by_topic(int_topics: DataFrame) -> DataFrame:
    """Per-topic counts ∪ 'Pathogen (Any)' ∪ 'Allergen (Any)' rollup rows —
    the hand-built UNION ALL rollup (fct_fda_recalls_by_topic.sql:72-108)."""
    exploded = int_topics.select(
        "recall_number", "classification", F.explode("topics").alias("topic")
    )
    per_topic = exploded.groupBy("topic").agg(
        F.count_distinct("recall_number").alias("n_recalls"),
        F.count_distinct(
            F.when(F.col("classification") == "Class I", F.col("recall_number"))
        ).alias("n_class_i"),
    )

    def rollup_row(label, topics):
        return (
            exploded.filter(F.col("topic").isin(topics))
            .agg(
                F.count_distinct("recall_number").alias("n_recalls"),
                F.count_distinct(
                    F.when(F.col("classification") == "Class I", F.col("recall_number"))
                ).alias("n_class_i"),
            )
            .select(F.lit(label).alias("topic"), "n_recalls", "n_class_i")
        )

    return (
        per_topic.unionByName(rollup_row("Pathogen (Any)", PATHOGEN_TOPICS))
        .unionByName(rollup_row("Allergen (Any)", ALLERGEN_TOPICS))
    )
