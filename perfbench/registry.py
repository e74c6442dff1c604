"""`registry_mix`: steady-state count() of registry queries on
generated driver tables, in two families.

The first pass over the mix is the cold pass: it collects every result
and checks it (untimed) against the query's DuckDB oracle SQL, or, for
the rows-only c06f, against the duplicate pairs the generator planted.  Later passes time `count()` only.
"""

from __future__ import annotations

import math
import os
import time
from decimal import Decimal

from gen_registry import write_tables
from harness import Session, Tracer, fresh_dir, median

SCALE = 0.01  # TPC-H-style scale factor of the generated tables
RELATIONAL = ("flagship_span_topk",)
SIMILARITY = ("c06f_minhash_neardup_fast", "c143_shingle_containment")
QUERIES = RELATIONAL + SIMILARITY


class CheckFailed(Exception):
    pass


def _normalize(df):
    """Sort columns by name and rows by value; decimals as strings."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, Decimal), na_action="ignore").any():
            df[c] = df[c].map(str, na_action="ignore")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(name: str, got, want) -> None:
    """Exact, order-insensitive comparison of two pandas frames, by the
    same rules as tests/oracle_harness.compare, which checks with
    `assert` (stripped under `python -O`) and so cannot gate a run."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        raise CheckFailed(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
    if len(got) != len(want):
        raise CheckFailed(f"{name}: {len(got)} rows != oracle {len(want)}")
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(None if a != a else a, None if b != b else b):
                raise CheckFailed(f"{name}: column {c} row {i}: {a!r} != {b!r}")


class RegistryRun:
    def __init__(self, sess: Session, seed: int, trace: bool):
        self.sess = sess
        self.seed = seed
        self.trace = trace
        self.data = os.path.join(sess.work, "tables")

    def prepare(self, sess: Session) -> None:
        """Import the registry, generate the tables, warm up."""
        from tp_airflow_gtfs_snowflake_spark.plans.driver_queries import REGISTRY
        self.registry = REGISTRY
        self.planted = write_tables(fresh_dir(self.data), self.seed, SCALE)
        sess.spark.range(1000).selectExpr("sum(id)").collect()

    def check(self, name: str, pdf, duck) -> None:
        spec = self.registry[name]
        if spec.oracle:
            compare(name, pdf, duck.sql(spec.oracle).df())
            return
        # rows-only queries: a weaker, count-only check against the
        # planted duplicates (the output values are hash-dependent)
        planted = self.planted.exact + self.planted.near
        if name == "c06f_minhash_neardup_fast":
            if len(pdf) != planted:
                raise CheckFailed(f"{name}: {len(pdf)} pairs != {planted} planted")
        else:
            raise CheckFailed(f"{name}: no check defined")

    def run(self, seconds: float) -> dict:
        import duckdb

        from tp_airflow_gtfs_snowflake_spark.schemas import DRIVER_TABLES
        spark = self.sess.spark
        tr = Tracer(spark, self.trace)
        attempted = failed = 0
        errors: list[str] = []

        cold: dict[str, float] = {}
        results = {}
        for name in QUERIES:
            t = time.perf_counter()
            with tr.span(f"registry.cold.{name}"):
                results[name] = self.registry[name].fn(spark, self.data).toPandas()
            cold[name] = time.perf_counter() - t
        with duckdb.connect() as duck:
            for t in DRIVER_TABLES:
                duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{os.path.join(self.data, t)}.parquet')")
            for name in QUERIES:
                attempted += 1
                try:
                    self.check(name, results[name], duck)
                except CheckFailed as e:
                    failed += 1
                    errors.append(str(e))

        steady: dict[str, list[float]] = {n: [] for n in QUERIES}
        t_start = time.perf_counter()
        while not steady[QUERIES[-1]] or time.perf_counter() - t_start < seconds:
            for name in QUERIES:
                t = time.perf_counter()
                with tr.span(f"registry.{name}"):
                    self.registry[name].fn(spark, self.data).count()
                steady[name].append(time.perf_counter() - t)
                attempted += 1
        per_query = {n: median(v) for n, v in steady.items()}
        return {
            "cold_s": sum(cold.values()), "steady_s": sum(per_query.values()),
            "per_query": per_query, "attempted": attempted, "failed": failed,
            "errors": errors, "tracer": tr,
        }


def layer_metrics(res: dict, job_counts: dict[str, int]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in QUERIES:
        out[f"registry.{name}_s"] = res["per_query"][name]
        out[f"registry.{name}.jobs"] = job_counts[name]
    out["registry.relational_s"] = sum(res["per_query"][n] for n in RELATIONAL)
    out["registry.similarity_s"] = sum(res["per_query"][n] for n in SIMILARITY)
    return out
