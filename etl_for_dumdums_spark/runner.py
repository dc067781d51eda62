"""Model-DAG runner: the reference's `dbt build` re-expressed.

A model registry maps name → builder (a callable producing a DataFrame from
the session, or a SQL string). Dependencies are declared via ``ref('name')``
(mirroring dbt's {{ ref() }}); the runner builds each model once its
dependencies are built, materializing it as a temp view (staging) or a
parquet table (marts) — the same view/table split as dbt_project.yml:19-26.

Like dbt (``threads: 4``, dbt/profiles.yml:13), the runner builds
independent models at the same time: a ``TopologicalSorter`` hands out every
model whose dependencies are done, and a pool of ``THREADS`` workers builds
them. Concurrency pays because a model build is mostly driver work
and small jobs: schema inference over a raw table, analysis of a view, and
a table write whose stages are often a single task. Run one at a time, they
leave the local cores idle for most of a build.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Callable, Optional, Union

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

THREADS = 4  # dbt/profiles.yml:13


@dataclass
class Model:
    name: str
    builder: Union[Callable[..., DataFrame], str]  # fn(spark, **deps) or SQL text
    deps: list[str] = field(default_factory=list)
    materialization: str = "view"  # 'view' | 'table' | 'ephemeral'
    path: Optional[str] = None  # parquet destination for 'table'


class ModelRegistry:
    def __init__(self) -> None:
        self._models: dict[str, Model] = {}

    def model(
        self,
        name: str,
        deps: Optional[list[str]] = None,
        materialization: str = "view",
        path: Optional[str] = None,
    ):
        """Decorator: register fn(spark, **dep_dataframes) -> DataFrame."""

        def deco(fn):
            self._models[name] = Model(name, fn, deps or [], materialization, path)
            return fn

        return deco

    def sql_model(
        self,
        name: str,
        sql: str,
        deps: Optional[list[str]] = None,
        materialization: str = "view",
        path: Optional[str] = None,
    ) -> None:
        """Register a SQL-text model; deps must already be views."""
        self._models[name] = Model(name, sql, deps or [], materialization, path)

    def _graph(self, targets: Optional[list[str]]) -> dict[str, set[str]]:
        """name -> deps for the targets and everything upstream of them."""
        wanted = set(self._models) if targets is None else set()
        stack = list(targets or [])
        while stack:
            m = stack.pop()
            if m not in wanted:
                wanted.add(m)
                stack.extend(self._models[m].deps)
        return {n: set(self._models[n].deps) for n in wanted}

    def topo_order(self, targets: Optional[list[str]] = None) -> list[str]:
        return list(TopologicalSorter(self._graph(targets)).static_order())

    def _run(self, spark: SparkSession, model: Model, deps: dict[str, DataFrame]) -> DataFrame:
        if isinstance(model.builder, str):
            df = spark.sql(model.builder)
        else:
            df = model.builder(spark, **deps)
        if model.materialization == "table" and model.path:
            df.write.mode("overwrite").parquet(model.path)
            # A file-source read with a user schema makes it nullable, which
            # is what inference would give; passing it skips the
            # footer-reading job that inference starts.
            df = spark.read.schema(df.schema).parquet(model.path)
        if model.materialization in ("view", "table"):
            df.createOrReplaceTempView(model.name)
        return df

    def build(self, spark: SparkSession, targets: Optional[list[str]] = None) -> dict[str, DataFrame]:
        """Execute the DAG; returns every materialized DataFrame by name.

        Each model starts as soon as its dependencies are built, on one of
        ``THREADS`` pool threads. The first model that raises stops the
        build: nothing more is started, the running models finish, and the
        exception is re-raised here.
        """
        ts = TopologicalSorter(self._graph(targets))
        ts.prepare()
        built: dict[str, DataFrame] = {}
        running = {}
        with ThreadPoolExecutor(THREADS, thread_name_prefix="model-runner") as pool:
            try:
                while ts.is_active():
                    for name in ts.get_ready():
                        model = self._models[name]
                        # Wrapped per model, on this thread: each model gets
                        # its own copy of the caller's job group and local
                        # properties. One shared copy would be mutated by
                        # every pool thread (Spark SQL keeps the running
                        # execution id there).
                        task = inheritable_thread_target(spark)(self._run)
                        deps = {d: built[d] for d in model.deps}
                        running[pool.submit(task, spark, model, deps)] = name
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        name = running.pop(fut)
                        built[name] = fut.result()
                        ts.done(name)
            except BaseException:
                pool.shutdown(cancel_futures=True)
                raise
        return built
