"""The benchmark's workloads: which ops a lap runs, and how each is checked.

An op has up to three parts, each a call into one layer of the engine:

- ``build(ctx)``: driver-side construction through the engine's public
  functions (a registry query, ``pipeline.run_enrichment``); returns a
  DataFrame or ``None``. Spark jobs the engine launches here are build jobs.
- ``run(ctx, df)``: execution; collects a DataFrame to the driver the way the
  dashboard does (``toPandas``) or performs the step's writes.
- ``check(ctx, result)``: untimed, after all laps; returns a list of problems.
  Registered queries compare with their DuckDB oracle; pipeline writes are
  read back and compared with the oracle of the registered query that
  computes the same table.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    name: str
    run: Callable[[Any, Any], Any]
    check: Callable[[Any, Any], list[str]]
    build: Callable[[Any], Any] | None = None
    # True when ``build`` returns a DataFrame whose plan the traced run times
    plans: bool = False


@dataclass
class Workload:
    name: str
    sf: float
    ops: Callable[[], list[Op]]
    # op names whose relative order a lap keeps; the rest are shuffled per lap
    ordered: tuple[str, ...] = ()


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def _registry_op(name: str) -> Op:
    from airdatapipeline_spark.registry import QUERIES

    fn = QUERIES[name]
    return Op(
        name=name,
        build=lambda ctx: fn(ctx.spark, ctx.sf_dir),
        run=lambda ctx, df: df.toPandas(),
        check=lambda ctx, pdf: ctx.oracle.compare(name, pdf),
        plans=True,
    )


# ---------------------------------------------------------------------------
# the medallion chain (``pipeline``, ``sources.csv_io``)
# ---------------------------------------------------------------------------


def _scrape_run(ctx, _):
    from airdatapipeline_spark import pipeline

    ctx.scraper.next_day()
    bronze = pipeline.run_scrape_job(
        ctx.spark, ctx.path("landing"), ctx.path("warehouse"),
        run_id=f"d{ctx.scraper.day:04d}", scraper=ctx.scraper,
    )
    return {"rows": bronze.count(), "n_rows": ctx.scraper.n_rows,
            "base_time": ctx.scraper.base_time}


def _scrape_check(ctx, res) -> list[str]:
    """Every lap: Bronze's row count equals the ``src1_scrape_clean`` oracle
    re-pointed at that lap's day. The table itself holds the last lap's day
    only, so that lap also compares it, read back, value by value."""
    from airdatapipeline_spark.registry import ORACLES

    sql = ORACLES["src1_scrape_clean"]
    for old, new in (
        ("generate_series(0, 99)", f"generate_series(0, {res['n_rows'] - 1})"),
        ("TIMESTAMP '2025-08-01 08:00:00'", f"TIMESTAMP '{res['base_time'].replace('T', ' ')}'"),
    ):
        if old not in sql:
            return [f"src1_scrape_clean oracle no longer contains {old!r}"]
        sql = sql.replace(old, new)
    want = ctx.oracle.sql(sql)
    if len(want) != res["rows"]:
        return [f"bronze has {res['rows']} rows, the oracle {len(want)}"]
    if res is not ctx.last_result("scrape"):
        return []
    got = ctx.oracle.read_parquet(ctx.path("warehouse", "bronze", "raw_headlines"))
    return ctx.oracle.compare_frames("scrape", got, want)


def _enrich_build(ctx):
    from airdatapipeline_spark import pipeline

    return pipeline.run_enrichment(ctx.spark, ctx.sf_dir)


def _enrich_run(ctx, silver):
    from airdatapipeline_spark.sources import csv_io

    return csv_io.write_silver_partitioned(silver, ctx.path("warehouse"))


def _silver_sql(path: str) -> str:
    return (
        f"silver AS (SELECT * EXCLUDE (processed_date) FROM "
        f"read_parquet('{path}/**/*.parquet', hive_partitioning = true))"
    )


def _enrich_check(ctx, path) -> list[str]:
    """Silver read back: its daily sentiment roll-up must equal the
    ``flagship_enrichment_gold`` oracle (the same roll-up over the oracle's
    own silver-after-enrichment). Every lap overwrites the same table with
    the same rows, so every lap checks what is there after the last one."""
    from airdatapipeline_spark.model import STG_CTE
    from airdatapipeline_spark.registry._shared import GOLD_S_CTE

    got = ctx.oracle.sql(
        f"WITH {_silver_sql(path)}, {STG_CTE}, {GOLD_S_CTE} SELECT * FROM gold_s"
    )
    return ctx.oracle.compare("flagship_enrichment_gold", got)


def _gold_run(ctx, _):
    from airdatapipeline_spark import pipeline

    out = ctx.path("gold")
    pipeline.write_gold(ctx.spark, ctx.sf_dir, out)
    return out


def _gold_check(ctx, out) -> list[str]:
    """Gold read back: the sentiment model equals ``flagship_enrichment_gold``'s
    oracle; the category model equals ``a2_w1_daily_category_gold``'s oracle
    SQL (``GOLD_C_CTE``) run over the Silver the enrich step wrote."""
    from airdatapipeline_spark.model import STG_CTE
    from airdatapipeline_spark.registry.relational import GOLD_C_CTE

    read = ctx.oracle.read_parquet
    problems = ctx.oracle.compare(
        "flagship_enrichment_gold", read(f"{out}/daily_sentiment_analysis", hive=True)
    )
    silver = ctx.last_result("enrich")
    if silver is None:
        return problems + ["no Silver table to derive the category oracle from"]
    want = f"WITH {_silver_sql(silver)}, {STG_CTE}, {GOLD_C_CTE} SELECT * FROM gold_c"
    problems += ctx.oracle.compare_sql(
        "daily_category_analysis", read(f"{out}/daily_category_analysis", hive=True), want
    )
    return problems


# The enrichment DAG's validate task and the dashboard's recent headlines,
# each as its registered query (``q_validation_gates`` calls
# ``operators.gold.validation_gates``). The lists are short because a run
# also pays for a cold warm-up lap, about 2.5 times a warm one, and the whole
# set of runs has a fixed time budget.
DASHBOARD = ("q_validation_gates", "t3_recent_headlines_topk")

STREAM_INGEST = (
    "stream_tumbling_append", "stream_vt_ingest", "snk_merge_upsert_delete",
    "snk_cdc_apply_changes",
)


def _medallion_ops() -> list[Op]:
    return [
        Op("scrape", run=_scrape_run, check=_scrape_check),
        Op("enrich", build=_enrich_build, run=_enrich_run, check=_enrich_check),
        Op("gold", run=_gold_run, check=_gold_check),
    ] + [_registry_op(n) for n in DASHBOARD]


def _registry_ops(names):
    return lambda: [_registry_op(n) for n in names]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("medallion", sf=0.1, ops=_medallion_ops, ordered=("scrape", "enrich", "gold")),
        Workload("stream_ingest", sf=0.01, ops=_registry_ops(STREAM_INGEST)),
    )
}


def lap_order(w: Workload, ops: list[Op], rng) -> list[Op]:
    """Seeded op order for one lap: ordered steps first, in their order, then
    the rest shuffled."""
    head = [o for n in w.ordered for o in ops if o.name == n]
    tail = [o for o in ops if o.name not in w.ordered]
    return head + [tail[i] for i in rng.permutation(len(tail))]

