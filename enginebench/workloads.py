"""The three workloads as ordered lists of operations.

An operation is one closed-loop request: it builds its plan through the
package's public functions and runs the action that returns the result to
the client. ``run`` returns the raw result; ``summarize`` turns it into what
is compared with the expectation, after the pass and outside every timer.
"""

from __future__ import annotations

import datetime as dt
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from . import checks
from .checks import digest, pair_digest

TPCH_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority", "q5_region_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q14_promo_revenue", "q18_large_orders",
)
LLM_QUERIES = (
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "sim_cosine_topk", "text_quality_score",
    "corpus_curation_pipeline", "embedding_covariance", "heavy_hitter_terms",
    "dedup_exact_substring", "logreg_quality_classifier", "sketch_cms_point_queries",
    "asof_join_last_click", "window_range_frame_sum", "incremental_join_view_maintenance",
    "graph_triangle_count",
)
BPE_MERGES = 16
# Approximate by design: LSH candidates are Jaccard-verified, so the operator
# can drop true pairs but never report a false one (operators/dedup.py
# minhash_lsh_pairs). Its result is checked as a subset of the exact oracle.
APPROX_PAIR_QUERIES = ("dedup_minhash_lsh",)


@dataclass(frozen=True)
class LakehouseParams:
    """Which keys the lakehouse pass deletes and upserts, from the seed."""

    delete_residue: int
    upsert_residue: int
    n_batches: int = 8
    read_range: tuple[str, str] = ("1994-01-01", "1996-12-31")

    @classmethod
    def for_seed(cls, seed: int) -> LakehouseParams:
        a = seed % 100
        return cls(a, (a + 1 + seed % 97) % 100)


@dataclass
class Op:
    name: str
    run: Callable  # (Ctx) -> raw result
    summarize: Callable = digest


class Ctx:
    """What an operation needs: the session, the input and working
    directories, and the tracer and Spark probe of a traced pass."""

    def __init__(self, spark, data_dir: Path, tracer):
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.probe = None
        self.pass_dir: Path = data_dir
        self.group: str | None = None
        self.built_jobs = 0
        self.files_read = 0
        self.plan_s = 0.0
        self.streams: list = []

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)

    def built(self) -> None:
        """Mark the end of plan building: jobs so far are eager jobs."""
        if self.probe is not None:
            self.built_jobs += self.probe.jobs_in_group(self.group)

    def collect(self, df, name: str):
        """The action: run ``df`` and return its rows to the client."""
        with self.span("spark", f"spark.{name}"):
            pdf = df.toPandas()
        if self.probe is not None:
            self.plan_s += self.probe.plan_s(df)
        return pdf


def _catalog_op(name: str) -> Op:
    def run(ctx: Ctx):
        from bigdata_googleplaystore_spark.catalog import QUERIES

        with ctx.span("catalog", f"catalog.{name}"):
            df = QUERIES[name].fn(ctx.spark, str(ctx.data_dir))
        ctx.built()
        return ctx.collect(df, name)

    return Op(name, run, pair_digest if name in APPROX_PAIR_QUERIES else digest)


def _bpe_train_corpus(ctx: Ctx):
    """bench.py's bpe_train_corpus: 16 merges learned from the documents."""
    from bigdata_googleplaystore_spark.operators import bpe
    from bigdata_googleplaystore_spark.sources import load_table

    with ctx.span("catalog", "catalog.bpe_train_corpus"):
        docs = load_table(ctx.spark, str(ctx.data_dir), "documents")
        df = bpe.learn_bpe_merges(ctx.spark, bpe.word_counts(docs), n_merges=BPE_MERGES, min_freq=2)
    ctx.built()
    return ctx.collect(df, "bpe_train_corpus")


# --- lakehouse ------------------------------------------------------------------

ORDER_COLS = ("o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")


def _orders(ctx: Ctx):
    from bigdata_googleplaystore_spark.sources import load_table

    return load_table(ctx.spark, str(ctx.data_dir), "orders").select(*ORDER_COLS)


def _cents(col: str):
    from pyspark.sql import functions as F

    return F.round(F.col(col) * 100).cast("long")


def _agg_cents(df, keys: list[str], price: str):
    from pyspark.sql import functions as F

    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"), F.sum(_cents(price)).alias("total_cents")
    )


def _table(ctx: Ctx) -> str:
    return str(ctx.pass_dir / "table")


def _commit_batch(b: int) -> Op:
    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        from bigdata_googleplaystore_spark.streaming import manifest as mf

        o = _orders(ctx)
        return mf.write_and_commit_batch(
            ctx.spark, o.filter(F.col("o_orderkey") % 8 == b), _table(ctx), b, stats_cols=["o_orderdate"]
        )

    return Op(f"commit_batch_{b}", run)


def _commit_deletes(p: LakehouseParams) -> Op:
    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        from bigdata_googleplaystore_spark.streaming import manifest as mf

        keys = _orders(ctx).filter(F.col("o_orderkey") % 100 == p.delete_residue).select("o_orderkey")
        return mf.commit_deletes(ctx.spark, _table(ctx), keys, delete_id=0)

    return Op("commit_deletes", run)


def _commit_upsert(p: LakehouseParams) -> Op:
    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        from bigdata_googleplaystore_spark.streaming import manifest as mf

        updates = (
            _orders(ctx)
            .filter(F.col("o_orderkey") % 100 == p.upsert_residue)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        )
        return mf.commit_upsert(
            ctx.spark, _table(ctx), updates, ["o_orderkey"], batch_id=p.n_batches, delete_id=1,
            stats_cols=["o_orderdate"],
        )

    return Op("commit_upsert", run)


def _snapshot_read(p: LakehouseParams) -> Op:
    def run(ctx: Ctx):
        from bigdata_googleplaystore_spark.streaming import manifest as mf

        lo, hi = (dt.date.fromisoformat(d) for d in p.read_range)
        rows = mf.read_snapshot_rows(ctx.spark, _table(ctx), where_between=("o_orderdate", lo, hi))
        ctx.built()
        out = ctx.collect(_agg_cents(rows, ["o_orderpriority"], "o_totalprice"), "snapshot_read")
        if ctx.probe is not None:  # data files the scan plans to read, delete-key files aside
            ctx.files_read = sum(1 for f in rows.inputFiles() if "/_deletes/" not in f)
        return out

    return Op("snapshot_read", run)


_CDF_SCHEMA = (
    "o_orderkey bigint, o_orderdate timestamp, o_orderpriority string, o_totalprice double,"
    " _change_type string, _commit_version long"
)


def _drain(ctx: Ctx, name: str, keyed: bool):
    """Replay the table's whole change feed from version 0 through the
    manifest_cdf_stream source into a parquet sink; return the sink."""
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    sink, ckpt = ctx.pass_dir / f"{name}_sink", ctx.pass_dir / f"{name}_ckpt"
    with ctx.span("sources", f"sources.{name}"):
        manifest_cdf_stream.register(ctx.spark)
        reader = (
            ctx.spark.readStream.format("manifest_cdf_stream")
            .schema(_CDF_SCHEMA)
            .option("path", _table(ctx))
            .option("startingVersion", "0")
        )
        if keyed:
            reader = reader.option("keyColumns", "o_orderkey")
        started = dt.datetime.now(dt.timezone.utc).timestamp()
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        ended = dt.datetime.now(dt.timezone.utc).timestamp()
    ctx.streams.append((str(q.runId), started, ended, q.recentProgress))
    return ctx.spark.read.parquet(str(sink))


def _cdf_drain(ctx: Ctx):
    log = _drain(ctx, "cdf_drain", keyed=False)
    return ctx.collect(_agg_cents(log, ["_change_type"], "o_totalprice"), "cdf_drain")


def _scd2_drain(ctx: Ctx):
    """bench.py's SCD2 maintenance: the keyed (paired) feed folded into
    validity intervals with one window by key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log = _drain(ctx, "scd2_drain", keyed=True).withColumn(
        "is_open", F.col("_change_type").isin("insert", "update_postimage")
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("_commit_version"), F.col("is_open").cast("int"))
    scd2 = (
        log.withColumn("next_version", F.lead("_commit_version").over(w))
        .withColumn("next_is_open", F.lead("is_open").over(w))
        .filter(F.col("is_open"))
        .select(
            "o_totalprice",
            F.col("_commit_version").alias("valid_from"),
            F.when(~F.col("next_is_open"), F.col("next_version")).alias("valid_to"),
        )
    )
    out = _agg_cents(
        scd2.withColumn("is_current", F.col("valid_to").isNull()), ["valid_from", "is_current"], "o_totalprice"
    )
    return ctx.collect(out, "scd2_drain")


PLAYSTORE_COLS = (
    "App", "Categories", "Rating", "Reviews", "Size", "Price", "Last_Updated", "Genres",
    "Average_Sentiment_Polarity",
)


def _playstore(ctx: Ctx):
    """The paper's Parts 1-5 with their three sinks (playstore.run_pipeline)."""
    from bigdata_googleplaystore_spark import playstore

    src = ctx.data_dir / "playstore"
    out = playstore.run_pipeline(
        ctx.spark,
        str(src / "googleplaystore.csv"),
        str(src / "googleplaystore_user_reviews.csv"),
        str(ctx.pass_dir / "playstore_out"),
    )
    ctx.built()
    with ctx.span("spark", "spark.playstore_best_apps_count"):
        best = out["df_2"].count()
    cleaned = ctx.collect(out["df_4"].select(*PLAYSTORE_COLS), "playstore_cleaned")
    metrics = ctx.collect(out["df_5"], "playstore_metrics")
    return best, cleaned, metrics


def _plain(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if hasattr(v, "tolist"):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()[:10]
    return v.item() if hasattr(v, "item") else v


def summarize_playstore(result, planted_apps: list[str]) -> dict:
    best, cleaned, metrics = result
    planted = {}
    for row in cleaned[cleaned["App"].isin(planted_apps)].to_dict("records"):
        rec = {k: _plain(v) for k, v in row.items()}
        rec["Categories"] = sorted(rec["Categories"] or [])
        planted[rec["App"]] = rec
    return {
        "value": {
            "best_apps_rows": int(best),
            "cleaned_rows": len(cleaned),
            "planted": planted,
            "metrics": {
                r["Genre"]: {k: _plain(r[k]) for k in ("Count", "Average_Rating", "Average_Sentiment_Polarity")}
                for r in metrics.to_dict("records")
            },
        }
    }


def build(workload: str, seed: int, facts: dict) -> list[Op]:
    if workload == "tpch_scaled":
        return [_catalog_op(q) for q in TPCH_QUERIES]
    if workload == "llm_operators":
        return [_catalog_op(q) for q in LLM_QUERIES] + [Op("bpe_train_corpus", _bpe_train_corpus)]
    if workload == "lakehouse_etl":
        p = LakehouseParams.for_seed(seed)
        apps = [rec["App"] for rec in facts.get("planted", {}).values()]
        return (
            [_commit_batch(b) for b in range(p.n_batches)]
            + [_commit_deletes(p), _commit_upsert(p), _snapshot_read(p)]
            + [Op("cdf_drain", _cdf_drain), Op("scd2_drain", _scd2_drain)]
            + [Op("playstore_parts_1_5", _playstore, lambda r: summarize_playstore(r, apps))]
        )
    raise ValueError(f"unknown workload {workload!r}")


def expectations(workload: str, seed: int, data_dir: Path, facts: dict) -> dict:
    """Expected digest of every operation of ``workload``."""
    if workload == "lakehouse_etl":
        out = checks.lakehouse_expectations(data_dir, LakehouseParams.for_seed(seed))
        planted = {rec["App"]: rec for rec in facts["planted"].values()}
        out["playstore_parts_1_5"] = {"value": {**facts, "planted": planted}}
        return out
    from bigdata_googleplaystore_spark.catalog import QUERIES

    names = TPCH_QUERIES if workload == "tpch_scaled" else LLM_QUERIES
    oracles = {n: QUERIES[n].oracle for n in names}
    rows = {}
    if workload == "llm_operators":
        oracles["bpe_train_corpus"] = None
        rows["bpe_train_corpus"] = BPE_MERGES
    return checks.query_expectations(data_dir, oracles, rows, APPROX_PAIR_QUERIES)


def clear_pass_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
