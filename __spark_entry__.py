"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship moderation pipeline on a deterministic
transcript table sized from sf0.001.  ``queries()`` — one entry per
implemented operator (SURVEY.md §2); SQL-expressible ones have a DuckDB
oracle in ``oracle_sql()``; CPython-``re``-bound scrub/score operators are
rows-only here (full value verification lives in tests/ against the
reference kernel — see tests/test_spark_parity.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

SF0001 = "/root/testdata/sf0.001"

# The localmod_spark package lives next to this file; make it importable
# for THIS process (driver) ...
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ship_package(spark: SparkSession) -> None:
    """... and for the executor Python workers.

    UDF closures reference localmod_spark.* by module, so workers must be
    able to import it regardless of the driver's cwd.  addPyFile of a
    package zip is the spark-submit --py-files equivalent, done once per
    SparkContext (idempotent re-adds are cheap no-ops)."""
    from localmod_spark.session import ship_package

    ship_package(spark.sparkContext, _REPO)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic transcripts sized to the scale factor:
    10 turns per document row in the sf dir."""
    from localmod_spark.sources.tables import load_table
    from localmod_spark.sources.transcripts import synth_transcripts

    _ship_package(spark)
    n_docs = load_table(spark, sf_dir, "documents").count()
    return synth_transcripts(spark, n_turns=max(n_docs, 100) * 10)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full moderation/quality pipeline — fused scoring plus the
    single-exchange conversation-context stage (turn order, repetition,
    conv aggregates) → keep/drop + byte-exact scrubbed text per turn."""
    from localmod_spark.operators.context import add_context
    from localmod_spark.operators.score import score_turns

    turns = _transcripts(spark, SF0001)
    return add_context(score_turns(turns)).select(
        "conv_id", "turn_idx", "role", "ts",
        "keep", "severity", "scrubbed_text", "redaction_count",
        "lang", "quality_score", "summary",
        "turn_rank", "is_repeat_turn", "n_turns", "flag_share",
    )


# --------------------------------------------------------------------------
# SQL-checkable queries (documents / events / embeddings tables)
# --------------------------------------------------------------------------


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.operators.textstats import doc_stats
    from localmod_spark.sources.tables import load_table

    stats = doc_stats(load_table(spark, sf_dir, "documents"))
    return stats.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        "avg_chars",
        F.col("max_chars").cast("long").alias("max_chars"),
    )


def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side text stats plus the canonical normalization digest
    (kernel/normalize.py): each text is deliberately dirtied with a
    decomposed accent + control chars + a space run (same literal in
    the oracle), so ``norm_md5`` is non-vacuously different from the raw
    digest and any NFC / control-strip / collapse divergence between the
    pandas-UDF path and DuckDB's nfc_normalize pipeline hash-mismatches."""
    from localmod_spark.functions.text import normalize_text_udf
    from localmod_spark.operators.textstats import doc_text_features
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = doc_text_features(docs, keep_cols=("text",))
    dirty = F.concat(F.col("text"), F.lit("  e\u0301\t\x07"))
    norm = normalize_text_udf(dirty)
    return feats.select(
        "doc_id",
        "caps_ratio",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio",
        "has_punct_burst",
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.operators.dedup import exact_dup_groups
    from localmod_spark.sources.tables import load_table

    groups = exact_dup_groups(load_table(spark, sf_dir, "documents"))
    return groups.select(
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("n_dups").cast("long").alias("n_dups"),
    )


def _q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered EXACT incremental dedup (operators/bloom.py):
    every 4th document plays the ingest batch, the rest the corpus; the
    corpus folds to a (word_ix, word) Bloom table via one bit_or groupBy
    and only bloom-maybe batch rows pay the verification anti-join.
    The filter changes the plan, not the answer — the oracle is the
    PLAIN anti-join in SQL, so any false-negative bug in the bloom path
    (a dropped duplicate admitted) hash-mismatches immediately."""
    from localmod_spark.operators.bloom import build_bloom, incremental_exact_dedup
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    # every 8th+5 doc re-enters the batch under a fresh id with its text
    # unchanged — simulated re-crawl duplicates, so the gate provably
    # DROPS rows (a bloom false negative shows up as extra output rows)
    batch = (
        docs.where(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.where(F.col("doc_id") % 8 == 5).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    bloom = build_bloom(corpus, "text", num_bits=1 << 16, k=5)
    out = incremental_exact_dedup(
        batch, corpus, bloom=bloom, key_col="text", num_bits=1 << 16, k=5
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def _q_turn_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three per-event window primitives of the context stage in one
    slot (stable turn ordering, repetition flag, time-range rolling
    aggregate) — all share ONE partitioning, so Catalyst plans a single
    exchange (the rank/lag pair shares one sort; the range frame's
    time-axis ordering adds a second sort, no extra shuffle)."""
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wr = Window.partitionBy("user_id").orderBy(us).rangeBetween(
        -3600 * 1_000_000, 0
    )
    return events.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.coalesce(
            F.col("event_type") == F.lag("event_type").over(w), F.lit(False)
        ).alias("is_repeat"),
        F.round(F.sum("value").over(wr), 2).alias("roll_value_1h"),
    )


def _q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level context-feature analog on the events table,
    computed skew-safely (salted two-phase aggregation)."""
    from localmod_spark.operators.skew import salted_agg
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "_err", (F.col("event_type") == "error").cast("long")
    )
    partial = [
        F.count(F.lit(1)).alias("_n"),
        F.sum("_err").alias("_ne"),
        F.sum("value").alias("_v"),
    ]
    merge = [
        F.sum("_n").alias("n_events"),
        F.sum("_ne").alias("n_errors"),
        F.sum("_v").alias("_sv"),
    ]
    agg = salted_agg(events, "user_id", merge, partial, salt_buckets=8)
    return agg.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_errors").cast("long").alias("n_errors"),
        F.round(F.col("n_errors") / F.col("n_events"), 6).alias("error_share"),
        F.round(F.col("_sv"), 2).alias("total_value"),
    )


def _q_conv_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-granularity keep/drop rollup (operators/convmod.py)
    over the events table with SQL-derivable per-turn flags (error
    events are 'flagged'; error+value>200 ranks 'high') so the real
    operator's share/severity/reason logic is DuckDB-checkable."""
    from localmod_spark.operators.convmod import conv_decision
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    turns = events.select(
        F.col("user_id").alias("conv_id"),
        (F.col("event_type") == "error").alias("flagged"),
        F.when(
            (F.col("event_type") == "error") & (F.col("value") > 200), "high"
        )
        .when(F.col("event_type") == "error", "medium")
        .otherwise("none")
        .alias("severity"),
    )
    d = conv_decision(turns, max_flag_share=0.25, drop_severity="high")
    return d.select(
        F.col("conv_id").cast("long").alias("conv_id"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_flagged").cast("long").alias("n_flagged"),
        "flag_share",
        "max_severity",
        "conv_keep",
        F.coalesce("drop_reason", F.lit("")).alias("drop_reason"),
    )


def _q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational diagnostics (operators/diagnostics.py), one key-keyed
    union: 'sum' = key-skew summary over events.user_id (n_keys, total,
    max count, skew factor); 'top:<user>' = the 10 heaviest keys with
    share and rank; 'audit:<type>:<event>' = 3 deterministic
    hash-ordered audit samples per event type via the bounded-window
    scalable path (equal to the plain sampler by construction)."""
    from localmod_spark.operators.diagnostics import (
        audit_sample_scalable,
        heavy_hitters,
        key_skew_stats,
    )
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    summary = key_skew_stats(events, "user_id").select(
        F.lit("sum").alias("key"),
        F.col("n_keys").cast("double").alias("c1"),
        F.col("total").cast("double").alias("c2"),
        F.col("max_cnt").cast("double").alias("c3"),
        F.col("skew_factor").alias("c4"),
    )
    top = heavy_hitters(events, "user_id", top_n=10).select(
        F.concat(F.lit("top:"), F.col("key").cast("long").cast("string")).alias(
            "key"
        ),
        F.col("cnt").cast("double").alias("c1"),
        F.col("share").alias("c2"),
        F.col("rank").cast("double").alias("c3"),
        F.lit(0.0).alias("c4"),
    )
    aud = audit_sample_scalable(
        events, "event_type", "event_id", n_per=3, seed=0
    ).select(
        F.concat(
            F.lit("audit:"),
            F.col("event_type"),
            F.lit(":"),
            F.col("event_id").cast("long").cast("string"),
        ).alias("key"),
        F.col("sample_rank").cast("double").alias("c1"),
        F.lit(0.0).alias("c2"),
        F.lit(0.0).alias("c3"),
        F.lit(0.0).alias("c4"),
    )
    return summary.unionByName(top).unionByName(aud)


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (>30 min) — the stream-windowing analog."""
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; cast for unix_micros (gaps are tz-invariant)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    new_session = F.when(gap_us > 1800 * 1_000_000, 1).otherwise(0)
    return events.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.sum(new_session).over(w).cast("long").alias("session_n"),
    )


# --------------------------------------------------------------------------
# Rows-only queries (CPython-re / sketch semantics; verified in tests/)
# --------------------------------------------------------------------------


def _q_moderation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.operators.score import score_turns

    return score_turns(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "keep", "flagged", "severity",
        "scrubbed_text", "redaction_count", "lang",
        F.round("quality_score", 4).alias("quality_score"),
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.functions.text import pii_scrub_udf
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = docs.withColumn("_s", pii_scrub_udf(F.col("text")))
    return out.select(
        "doc_id", F.col("_s.scrubbed_text").alias("scrubbed_text"),
        F.col("_s.n_redactions").alias("n_redactions"),
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.functions.text import langid_udf
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = docs.withColumn("_l", langid_udf(F.col("text")))
    return out.select(
        "doc_id",
        F.col("_l.lang").alias("lang_detected"),
        F.round(F.col("_l.lang_conf"), 4).alias("lang_conf"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + CCNet's head/middle/tail perplexity
    band (per-language terciles, Wenzek et al. LREC'20).  The per-doc
    frame is persisted because the tercile thresholds and the bucket
    join both consume the (expensive) quality UDF output."""
    from pyspark.storagelevel import StorageLevel

    from localmod_spark.cache_registry import register_stage_cache
    from localmod_spark.functions.text import quality_udf
    from localmod_spark.operators.textstats import ccnet_buckets
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    perdoc = register_stage_cache(
        docs.withColumn("_q", quality_udf(F.col("text")))
        .select(
            "doc_id",
            "lang",
            F.round(F.col("_q.perplexity"), 4).alias("perplexity"),
            F.col("_q.quality_score").alias("quality_score"),
            F.col("_q.quality_flagged").alias("quality_flagged"),
            F.col("_q.n_tokens").cast("long").alias("n_tokens"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return ccnet_buckets(perdoc).select(
        "doc_id", "perplexity", "quality_score", "quality_flagged",
        "n_tokens", "lang", "ccnet_bucket",
    )


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → 16×4 banding →
    candidate pairs → exact 3-gram-Jaccard verification → pairs ≥ 0.9.

    DuckDB-oracled: the oracle computes all-pairs word-3-gram Jaccard in
    SQL; equality holds because 16 bands × 4 rows gives recall
    1-(1-j^4)^16 ≈ 1 - 5e-8 at j=0.9 — the banding provably does not
    lose qualifying pairs at checked scales (asserted per round by the
    driver's row-count match)."""
    from localmod_spark.operators.dedup import minhash_candidates, ngram_jaccard, with_minhash
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = with_minhash(docs, num_hashes=64, shingle_k=3, shingle_mode="word")
    # max_bucket=None (the default — the cap is opt-in): these queries
    # are VALUE-equality gates vs an all-pairs oracle, so no qualifying
    # pair may be dropped.  Production selection jobs opt INTO the cap
    # (a recall-for-boundedness trade) and run exact_dedup first so
    # identical boilerplate collapses upstream.
    cands = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=None)
    verified = ngram_jaccard(docs, cands, n=3)
    return (
        verified.withColumn("jaccard", F.round("jaccard", 4))
        .where(F.col("jaccard") >= 0.9)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            "jaccard",
        )
    )


def _q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding: 64-bit md5-token
    signatures, 4×16-bit bands, exact-recall guarantee for hamming ≤ 3.
    The whole candidate+verify path is JVM-side (equi-joins +
    bit_count(xor)); the oracle recomputes signatures and all-pairs
    hamming in SQL."""
    from localmod_spark.operators.dedup import simhash_candidates, with_simhash
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = with_simhash(docs, bits=64, token_hash="md5")
    return simhash_candidates(sigs, bits=64, n_bands=4, max_hamming=3).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN: the query's bucket plus every
    hamming-1 neighbor bucket (the standard recall knob)."""
    from localmod_spark.operators.similarity import lsh_topk, with_lsh_bucket
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    bucketed = with_lsh_bucket(emb, dim=dim, n_planes=8)
    return lsh_topk(bucketed, query_vec_id=0, k=10, hamming=1, n_planes=8).select(
        F.col("vec_id").cast("long").alias("vec_id"), "cosine"
    )




def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical partial-aggregatable
    groupBy — map-side combine shrinks the shuffle to one row per
    (partition, flag, status)."""
    from localmod_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join lineitem ⋈ orders ⋈ customer ⋈ nation: the small dims are
    broadcast (explicit hint; AQE would pick it too), so only the fact
    table's (orderkey, revenue) pairs shuffle."""
    from localmod_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count: letter runs, digit runs, single
    punctuation — a regex whose semantics agree between Java regex and
    RE2/DuckDB."""
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias("n_bpe_tokens"),
    )


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE encoding (Sennrich ACL'16) over the pinned merges table —
    a model parameter like the seeded LSH hyperplanes, so both engines
    share one literal.  Spark side: batched pandas UDF applying the
    leftmost-lowest-rank merge loop; oracle side: the identical loop as a
    DuckDB recursive CTE (one merge application per recursion step) over
    the distinct-word table, joined back in word order."""
    from localmod_spark.operators.bpe import PINNED_MERGES, with_bpe_tokens
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    enc = with_bpe_tokens(docs, PINNED_MERGES)
    return enc.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("long").alias("n_subwords"),
        F.array_join("bpe_tokens", " ").alias("subwords"),
    )


def _q_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input validation columns (reference F1/F4 semantics)."""
    from localmod_spark.operators.validate import with_validity
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    v = with_validity(docs.withColumnRenamed("text", "text"), max_len=400)
    return v.select("doc_id", "valid", "invalid_reason")


def _q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A5 metrics operator, cross-checked against DuckDB by using a
    SQL-expressible pred/label pair (stopword-poor docs vs short docs)."""
    from localmod_spark.operators.evaluate import classification_metrics
    from localmod_spark.operators.textstats import stopword_ratio_col
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        (stopword_ratio_col("text") < 0.05).alias("pred"),
        (F.col("n_chars") < 250).alias("label"),
    )
    return classification_metrics(pairs)


def _q_embedding_dups_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from localmod_spark.operators.similarity import embedding_near_dups
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.3).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def _q_semdedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup decision set: the DROPPED vectors (keep = complement),
    reshaped to the embedding_dups union schema — id_a = vec_id,
    id_b = cluster, cosine = centroid cosine.  Over- AND under-dropping
    both surface as row-set mismatches vs the oracle."""
    from localmod_spark.operators.similarity import semdedup
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = semdedup(emb, dim=_EMB_DIM, threshold=0.3)
    return out.where(~F.col("keep")).select(
        F.col("vec_id").cast("long").alias("id_a"),
        F.col("cluster").alias("id_b"),
        F.col("centroid_cos").alias("cosine"),
    )


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup handling under all three strategies in one
    method-keyed registry entry (50-entry driver cap): the exact
    all-pairs baseline, the two-table hyperplane-LSH scale path, and
    the SemDeDup cluster-pruning decision set."""
    allp = _q_embedding_dups_allpairs(spark, sf_dir).select(
        F.lit("allpairs").alias("method"), "id_a", "id_b", "cosine"
    )
    lsh = _q_lsh_embedding_dups(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "id_a", "id_b", "cosine"
    )
    sem = _q_semdedup_drops(spark, sf_dir).select(
        F.lit("semdedup").alias("method"), "id_a", "id_b", "cosine"
    )
    return allp.unionByName(lsh).unionByName(sem)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: deterministic binary table → feature extraction
    (decode stubbed; schema/batching real).  Sized from the sf dir.  The
    MD5-derived payloads make the byte statistics DuckDB-reproducible, so
    this path is value-oracled, not rows-only."""
    from localmod_spark.operators.multimodal import extract_media_features, synth_media
    from localmod_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "documents").count()
    media = synth_media(spark, n_rows=n)
    feats = extract_media_features(media, dim=16)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round("byte_mean", 6).alias("byte_mean"),
        "byte_entropy",
        F.col("n_frames_sampled").cast("long").alias("n_frames_sampled"),
    )




def _q_event_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-shape statistics, one key-keyed union of two sections (two
    operators in one slot; all values double so the union is typed):
    'user:<id>' rows = pivot of event counts per user into per-type
    columns; 'pctl:<type>' rows = EXACT percentiles per event type
    (exact `percentile`, not approx — cross-engine checkable) with
    (p50, p90, vmin, vmax, 0) in the value columns."""
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivot = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            F.concat(F.lit("user:"), F.col("user_id").cast("long").cast("string")).alias(
                "key"
            ),
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("double").alias(f"c{i + 1}")
                for i, t in enumerate(types)
            ],
        )
    )
    pctl = (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("c1"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("c2"),
            F.round(F.min("value"), 2).alias("c3"),
            F.round(F.max("value"), 2).alias("c4"),
        )
        .select(
            F.concat(F.lit("pctl:"), F.col("event_type")).alias("key"),
            "c1",
            "c2",
            "c3",
            "c4",
            F.lit(0.0).alias("c5"),
        )
    )
    return pivot.unionByName(pctl)


def _q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over (lang, source) — grouping-sets coverage."""
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


def _q_user_event_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event operators, one section-keyed union (three sections
    share one slot, every operator still value-checked):
    'no_big_purchase' = users who never purchased over 150 (left-anti
    join — both the filter and the distinct build side push into the
    probe); 'click_not_buy' = clickers EXCEPT big purchasers, the build
    side itself an INTERSECT (value > 100 keeps every sf non-vacuous);
    'topk' = top-3 events by value per user (rank window — Spark runs it
    as TopK-per-partition, no global sort), carrying (event_id, rk)."""
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    big150 = (
        events.where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select("user_id")
        .distinct()
    )
    anti = events.select("user_id").distinct().join(big150, "user_id", "left_anti")
    clickers = events.where(F.col("event_type") == "click").select("user_id").distinct()
    big100 = (
        events.where((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select("user_id")
        .distinct()
    )
    setops = clickers.exceptAll(big100.intersect(clickers))

    def _sect(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("section"),
            F.col("user_id").cast("long").alias("user_id"),
            F.lit(0).cast("long").alias("event_id"),
            F.lit(0).cast("long").alias("rk"),
        )

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    topk = (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.lit("topk").alias("section"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
    return (
        _sect(anti, "no_big_purchase")
        .unionByName(_sect(setops, "click_not_buy"))
        .unionByName(topk)
    )




def _q_conv_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map conversation features (applyInPandas): cumulative
    flagged count, inter-turn gap, consecutive-flagged run length.

    Runs over the events table with a SQL-derivable flag (event_type =
    'error') so the grouped-map output is DuckDB-oracle-checkable (the
    oracle expresses the same features as window SQL); the pandas logic
    is byte-identical to what the moderation pipeline applies to scored
    transcripts."""
    from localmod_spark.operators.context import conv_grouped_features
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turns = events.select(
        F.col("user_id").cast("long").alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        (F.col("event_type") == "error").alias("flagged"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    feats = conv_grouped_features(turns)
    return feats.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("cum_flagged").cast("long").alias("cum_flagged"),
        F.round("gap_seconds", 2).alias("gap_seconds"),
        F.col("flagged_run_len").cast("long").alias("flagged_run_len"),
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: minhash→banding→jaccard-verified pairs, then
    connected components (iterative min-label propagation) → one cluster
    id (= component min doc_id) per document.  Oracle: recursive-CTE
    transitive closure over the same all-pairs-jaccard edge set."""
    from localmod_spark.operators.dedup import (
        dup_clusters,
        minhash_candidates,
        ngram_jaccard,
        with_minhash,
    )
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = with_minhash(docs, num_hashes=64, shingle_k=3, shingle_mode="word")
    # max_bucket=None (the default — the cap is opt-in): these queries
    # are VALUE-equality gates vs an all-pairs oracle, so no qualifying
    # pair may be dropped.  Production selection jobs opt INTO the cap
    # (a recall-for-boundedness trade) and run exact_dedup first so
    # identical boilerplate collapses upstream.
    cands = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=None)
    pairs = (
        ngram_jaccard(docs, cands, n=3)
        .where(F.round("jaccard", 4) >= 0.9)
        .select("id_a", "id_b")
    )
    return dup_clusters(docs, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def _q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus selection — the query a pipeline user
    actually runs: validity gate → near-dup clustering → keep only each
    cluster's representative → token-count band.  Composes validate,
    minhash/LSH, jaccard-verify and dup_clusters; every stage is
    SQL-expressible so the whole composition is value-oracled."""
    from localmod_spark.operators.dedup import (
        dup_clusters,
        minhash_candidates,
        ngram_jaccard,
        with_minhash,
    )
    from localmod_spark.operators.validate import with_validity
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    valid = with_validity(docs, max_len=400).where(F.col("valid")).drop("valid", "invalid_reason")
    sigs = with_minhash(valid, num_hashes=64, shingle_k=3, shingle_mode="word")
    # max_bucket=None (the default — the cap is opt-in): these queries
    # are VALUE-equality gates vs an all-pairs oracle, so no qualifying
    # pair may be dropped.  Production selection jobs opt INTO the cap
    # (a recall-for-boundedness trade) and run exact_dedup first so
    # identical boilerplate collapses upstream.
    cands = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=None)
    pairs = (
        ngram_jaccard(valid, cands, n=3)
        .where(F.round("jaccard", 4) >= 0.9)
        .select("id_a", "id_b")
    )
    reps = dup_clusters(valid, pairs).where(F.col("doc_id") == F.col("cluster"))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        valid.join(reps.select("doc_id"), "doc_id", "left_semi")
        .where((n_tokens >= 5) & (n_tokens <= 1000))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            n_tokens.cast("long").alias("n_tokens"),
        )
    )


def _q_lsh_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups via the scale path: two independent
    hyperplane-LSH tables, bucket equi-joins, union of candidates, exact
    cosine ≥ t — the oracled variant of the all-pairs baseline in
    `embedding_dups` with the banding-style recall knob exercised."""
    from localmod_spark.operators.similarity import lsh_embedding_dups
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_embedding_dups(
        emb, dim=64, threshold=0.3, n_planes=8, seed=11, n_tables=2
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )


def _q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language-mixture sampling (the mT5/CC-100
    recipe): per-language keep rates ``r_l = T·n_l^(α−1)/Σ n^α`` derived
    from the DATA (one grouped count, |langs| rows to the driver) —
    α=0.5 up-weights low-resource languages — then the deterministic
    md5-hash keep rule (reproducible across reruns/partitionings,
    shuffle-free).  Rates are floor-truncated at 1e-6 on BOTH engines so
    the literal the Spark plan embeds and the SQL-recomputed rate agree;
    params keep every rate < 1 at the checked SFs (the water-filling
    path for tiny strata is pytest-tested)."""
    import math

    from localmod_spark.operators.sampling import sample_stratified, temperature_rates
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    raw = temperature_rates(docs, alpha=0.5, target_frac=0.3)
    if any(v >= 1.0 for v in raw.values()):
        # the oracle SQL implements the UNCAPPED formula only — if a
        # stratum ever water-fills at some SF, fail with the real reason
        # instead of a confusing value-diff against the oracle
        raise AssertionError(
            f"temperature_sample params water-filled a stratum ({raw}); "
            "the DuckDB oracle models the uncapped formula — adjust alpha/"
            "target_frac for this data"
        )
    rates = {k: math.floor(v * 1e6) / 1e6 for k, v in raw.items()}
    kept = sample_stratified(docs, rates, default_rate=0.0)
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


# Shared between _q_mix_corpora and its oracle generator: under the
# query's no-source-runs-dry guard, the water-filled budgets are a PURE
# function of (weights, total), so the oracle embeds the exact float
# budgets the Spark side computes (same arithmetic, same dict order).
_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
_MIX_BUDGET = 8000.0


def _q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source mixing to a total token budget (sources =
    languages here): water-filled per-source budgets, deterministic
    md5-shuffle order within each source, one window exchange.  The
    oracle models the NO-DRY formula (budget = total·w/Σw), so the query
    asserts no source saturates at this SF — the exhaustion/refill path
    is pytest-covered (tests/test_mix_corpora.py)."""
    from localmod_spark.operators.sampling import mix_corpora, waterfill_budgets
    from localmod_spark.operators.textstats import token_count_col
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count_col("text")
    )
    avail = {
        r["lang"]: r["_t"]
        for r in docs.groupBy("lang").agg(F.sum("n_tokens").alias("_t")).collect()
    }
    budgets = waterfill_budgets(avail, _MIX_WEIGHTS, _MIX_BUDGET)
    if any(budgets.get(s, 0.0) >= avail.get(s, 0) for s in _MIX_WEIGHTS):
        raise AssertionError(
            f"mix_corpora params saturate a source at this SF ({budgets} vs {avail}); "
            "the DuckDB oracle models the no-dry formula — lower _MIX_BUDGET"
        )
    sel = mix_corpora(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, source_col="lang", token_col="n_tokens",
        avail=avail,  # the guard already aggregated it — one corpus scan
    )
    return sel.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def _q_conv_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-stable conversation concatenation (the byte-exact input to
    conversation-granularity dedup), value-pinned via md5 of the joined
    text: any ordering instability in the aggregate flips the digest.
    Pseudo-conversations = blocks of 5 documents (the driver tables have
    no transcript table; the operator is conversation-shape-generic)."""
    from localmod_spark.operators.context import conv_text
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "conv", F.floor(F.col("doc_id") / F.lit(5)).cast("long")
    )
    agg = conv_text(docs, conv_col="conv", order_col="doc_id", text_col="text")
    return agg.select(
        "conv",
        F.md5(F.col("conv_text")).alias("text_md5"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.length("conv_text").cast("long").alias("n_chars"),
    )


def _q_conv_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation (drop-oldest): per pseudo-conversation
    (blocks of 5 documents), keep the LATEST turns whose char total fits
    a 400-char budget — one running-sum window in reverse turn order +
    a filter (operators/context.py:truncate_to_budget).  ``cum_tokens``
    is the running total counted from the kept end, so the oracle
    re-derives it with the same reversed window."""
    from localmod_spark.operators.context import truncate_to_budget
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "conv", F.floor(F.col("doc_id") / F.lit(5)).cast("long")
    )
    kept = truncate_to_budget(
        docs, budget=400, conv_col="conv", idx_col="doc_id", tokens_col="n_chars"
    )
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "conv",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def _q_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward inclusive): for each purchase, the latest
    at-or-before click by the same user — implemented as the
    union-and-window merge (ONE exchange, no join node).  Right-side
    (user, ts) ties are pre-resolved to max event_id, the determinism
    every engine's as-of requires.  Oracle: DuckDB's native ASOF JOIN."""
    from localmod_spark.operators.asof import as_of_join
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = as_of_join(purchases, clicks, ["user_id"], right_cols=["click_event_id", "ts"])
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return (
        j.where(F.col("asof_click_event_id").isNotNull())
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("asof_click_event_id").cast("long").alias("click_event_id"),
            F.round((us("ts") - us("asof_ts")) / 1e6, 2).alias("gap_seconds"),
        )
    )


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time binning: clicks falling inside each user's
    [first purchase, +1 day] window — interval exploded to hour bins,
    equi-join on (user, bin), exact BETWEEN as residual (a pure
    inequality join would plan BroadcastNestedLoopJoin)."""
    from localmod_spark.operators.asof import interval_join
    from localmod_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    intervals = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start"))
        .withColumn("end", F.col("start") + F.expr("INTERVAL 1 DAY"))
    )
    clicks = events.where(F.col("event_type") == "click")
    j = interval_join(clicks, intervals, ["user_id"], bin_seconds=3600)
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    ).select(F.col("user_id").cast("long").alias("user_id"), "n_clicks", "click_value")


def _q_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under both trainer disciplines in one mode-keyed
    registry entry (50-entry driver cap).  mode='greedy': first-fit doc
    packing into 512-token budgets in doc_id order per (lang, 200-doc
    block) group — packing is sequential within a group by nature, so
    the group is the parallelism unit, and the composite key BOUNDS
    every sequential scan (the shape a 10^12-doc job needs: lang alone
    would serialize a whole language on one task); oracle = a DuckDB
    recursive CTE walking the same rule.  mode='chunk': concat-and-chunk
    (`packing.chunk_fixed`) of the same groups' real-BPE token streams;
    oracle = per-token global-position arithmetic over the BPE
    recursive-CTE encode."""
    from localmod_spark.operators.bpe import PINNED_MERGES, with_bpe_tokens
    from localmod_spark.operators.packing import chunk_fixed, pack_greedy
    from localmod_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn("n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long"))
        .withColumn(
            "grp",
            F.concat_ws("/", F.col("lang"), F.floor(F.col("doc_id") / F.lit(200)).cast("string")),
        )
    )
    packed = pack_greedy(docs, budget=512, group_col="grp", order_col="doc_id")
    greedy = packed.select(
        F.lit("greedy").alias("mode"),
        "grp",
        F.col("doc_id").cast("long").alias("k"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.concat_ws(":", F.col("pack_id"), F.col("pack_fill")).alias("payload"),
    )
    # mode 'chunk': concat-and-chunk of REAL BPE token streams (the
    # GPT-style no-padding alternative) — per-group streams with <eos>
    # separators cut into 128-token windows; payload carries the actual
    # window tokens so the oracle checks content, not just counts
    enc = with_bpe_tokens(docs.select("doc_id", "grp", "text"), PINNED_MERGES)
    chunks = chunk_fixed(
        enc, seq_len=128, group_col="grp", order_col="doc_id", tokens_col="bpe_tokens"
    )
    chunk = chunks.select(
        F.lit("chunk").alias("mode"),
        "grp",
        F.col("chunk_id").alias("k"),
        F.col("n_tokens"),
        F.array_join("tokens", " ").alias("payload"),
    )
    return greedy.unionByName(chunk)


def _q_corpus_select_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware corpus selection: like corpus_select, but each
    duplicate cluster keeps its HIGHEST-quality member (ties → min id)
    instead of the arbitrary min-id — validity gate → near-dup clustering
    → per-cluster argmax over the quality score → token band.  Every
    stage is value-oracled (the quality score itself has a byte-exact SQL
    oracle, so the whole composition is too)."""
    from localmod_spark.functions.text import quality_udf
    from localmod_spark.operators.dedup import (
        dup_clusters,
        minhash_candidates,
        ngram_jaccard,
        select_representatives,
        with_minhash,
    )
    from localmod_spark.operators.validate import with_validity
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    valid = with_validity(docs, max_len=400).where(F.col("valid")).drop("valid", "invalid_reason")
    sigs = with_minhash(valid, num_hashes=64, shingle_k=3, shingle_mode="word")
    cands = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=None)
    pairs = (
        ngram_jaccard(valid, cands, n=3)
        .where(F.round("jaccard", 4) >= 0.9)
        .select("id_a", "id_b")
    )
    clusters = dup_clusters(valid, pairs)
    scores = valid.withColumn("_q", quality_udf(F.col("text"))).select(
        "doc_id", F.col("_q.quality_score").alias("quality_score")
    )
    reps = select_representatives(clusters, scores)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        reps.join(valid.select("doc_id", "text"), "doc_id")
        .where((n_tokens >= 5) & (n_tokens <= 1000))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "quality_score",
            n_tokens.cast("long").alias("n_tokens"),
        )
    )


def _q_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8-quantized embeddings (4× narrower scans/broadcasts):
    symmetric per-vector scale cancels out of cosine, so scoring is pure
    integer arithmetic on the quantized vectors — exactly reproducible in
    SQL (integer sums are order-independent and float64-exact)."""
    from localmod_spark.operators.similarity import quantize_embeddings, quantized_topk
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    top = quantized_topk(quantize_embeddings(emb), query_vec_id=0, k=10)
    return top.select(F.col("vec_id").cast("long").alias("vec_id"), "cosine_q")


def _q_single_vec_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query-vector ANN top-10 under two independent strategies in
    one registry entry (the driver truncates at 50): multi-probe
    hyperplane LSH and int8-quantized integer scoring — both previously
    their own oracled queries, folded as a method-keyed union to free
    slots for the r6 operators."""
    lsh = _q_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "vec_id", F.col("cosine").alias("score")
    )
    quant = _q_quant_topk(spark, sf_dir).select(
        F.lit("int8").alias("method"), "vec_id", F.col("cosine_q").alias("score")
    )
    return lsh.unionByName(quant)


def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: md5-keyed shard + within-shard
    position — the full permutation is recomputed by the DuckDB oracle,
    proving it depends on nothing but (id, seed, n_shards)."""
    from localmod_spark.operators.shuffle import shuffle_shards
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = shuffle_shards(docs, n_shards=8, seed=42)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("int").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


def _q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint verification (completeness, range share,
    value-set membership, exact uniqueness) — all conditional counts
    evaluated in ONE aggregation pass; the gate a 10^12-turn ingest runs
    per wave before committing it (operators/checks.py also provides the
    partition-mergeable state for differential re-verification)."""
    from localmod_spark.operators.checks import (
        check_suite,
        completeness_check,
        conversation_checks,
        in_range_check,
        in_set_check,
        psi_drift,
    )
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    checks = [
        completeness_check("text", 1.0),
        in_range_check("n_chars", 1, 300, 0.9),
        in_set_check("lang", ["de", "en", "es", "fr", "zh"], 1.0),
    ]
    row_checks = check_suite(docs, checks, unique_col="doc_id")

    # Conversation-structure (multi-row ordering) checks over a
    # conversation-shaped derivation of the documents table with
    # DETERMINISTIC planted violations (idx gaps every 37th doc, ts
    # regressions every 53rd, wrong opening role every 45th, orphan /
    # missing tool payloads every 43rd / 41st) so every share is
    # strictly inside (0, 1) — non-vacuous by construction.
    d = F.col("doc_id")
    convs = docs.select(
        F.floor(d / 5).alias("conv"),
        ((d % 5) + F.when(d % 37 == 0, F.lit(10)).otherwise(F.lit(0))).alias("idx"),
        F.when(
            d % 5 == 0,
            F.when(d % 45 == 0, F.lit("assistant")).otherwise(F.lit("user")),
        )
        .when(d % 41 == 0, F.lit("tool"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.when(d % 43 == 0, F.lit("search")).alias("tool"),
        (
            ((d % 5) + F.when(d % 37 == 0, F.lit(10)).otherwise(F.lit(0))) * 60
            - F.when(d % 53 == 0, F.lit(7200)).otherwise(F.lit(0))
        ).alias("ts"),
    )
    conv_rows = conversation_checks(
        convs, conv_col="conv", idx_col="idx", role_col="role",
        tool_col="tool", ts_col="ts", min_pass_share=0.9,
    )

    # Drift gate: PSI between the even- and odd-doc_id halves (stable ⇒
    # passes) and between the corpus and its long-docs slice (a real
    # shift ⇒ fails) — both directions exercised.
    breaks = [60.0, 120.0, 180.0, 240.0]
    stable = psi_drift(
        docs.where(d % 2 == 0), docs.where(d % 2 == 1), "n_chars", breaks
    )
    shifted = psi_drift(docs, docs.where(F.col("n_chars") > 120), "n_chars", breaks)
    return (
        row_checks.unionByName(conv_rows)
        .unionByName(stable.withColumn("check", F.concat(F.lit("even_odd:"), "check")))
        .unionByName(shifted.withColumn("check", F.concat(F.lit("long_docs:"), "check")))
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents sharing any word 5-gram with
    the 'evaluation' slice (every 50th doc stands in for a benchmark
    set).  All JVM-side: tokens → n-grams → distinct → explode →
    broadcast semi-join; the corpus side never shuffles."""
    from localmod_spark.operators.dedup import contaminated_docs
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    evalset = docs.where(F.col("doc_id") % 50 == 0)
    out = contaminated_docs(docs, evalset, n=5)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
    )


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT batched kNN join: top-5 cosine neighbors for EVERY query row
    (every 50th vector stands in for a query/benchmark set).  The query
    table broadcasts, the corpus scans once, per-query top-k is one
    row_number window — no per-query driver loop.  Oracle = brute-force
    per-query top-k in DuckDB."""
    from localmod_spark.operators.similarity import knn_join
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = knn_join(q, emb, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cosine",
        F.col("rk").cast("long").alias("rk"),
    )


def _q_ann_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query ANN join — the 100 TB "kNN for every doc"
    path: both sides LSH-bucketed with the same seeded hyperplanes, the
    query side exploded into its hamming-1 probe buckets, candidates from
    a pure bucket EQUI-join (plan-asserted: no cartesian, no
    nested-loop), per-query top-k via row_number.  The oracle recomputes
    buckets + probe condition + windows with identical arithmetic."""
    from localmod_spark.operators.similarity import ann_join_topk
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_join_topk(q, emb, dim=_EMB_DIM, k=5, n_planes=8, hamming=1)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cosine",
        F.col("rk").cast("long").alias("rk"),
    )


def _q_ivf_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query ANN over IVF inverted lists: every query row
    computes its top-n_probe lists as column expressions (struct sort on
    (-score, list)), explodes into them, and candidates come from a
    list-equality equi-join + per-query row_number — the codebook sibling
    of ann_join_topk, zero per-query driver work."""
    from localmod_spark.operators.similarity import ivf_join_topk
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = ivf_join_topk(q, emb, dim=_EMB_DIM, k=5, n_lists=16, n_probe=2)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cosine",
        F.col("rk").cast("long").alias("rk"),
    )


def _ann_truth_base() -> str:
    """The ANN-truth staging base: ``<tmp>/lmspark_ann_truth_<user>``,
    created 0700.  A shared /tmp dir lets another user plant a
    key-matching table the key check would trust, so an existing dir is
    used only if it is a real directory owned by this user that group and
    others cannot write; otherwise this warns and stages in a fresh
    private dir (the truth is then recomputed)."""
    import getpass
    import stat
    import tempfile
    import warnings

    base = os.path.join(tempfile.gettempdir(), f"lmspark_ann_truth_{getpass.getuser()}")
    try:
        os.makedirs(base, mode=0o700, exist_ok=True)
    except FileExistsError:  # a non-directory squats the name
        pass
    st = os.lstat(base)
    if (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        return base
    private = tempfile.mkdtemp(prefix="lmspark_ann_truth_")
    warnings.warn(
        f"ANN-truth staging dir {base} is not a private dir of this user "
        f"(uid {st.st_uid}, mode {stat.filemode(st.st_mode)}); staging in {private}",
        stacklevel=2,
    )
    return private


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall as a CI metric: join each approximate method's batched
    top-k (LSH probe join / IVF list join) against the exact kNN join's
    ground truth and emit per-method recall@k — one union + semi-join +
    grouped aggregate, the same shape a production recall monitor runs
    nightly over a sampled query set.  Non-vacuous by construction at
    sf0.01 (at least one method recalls < 1 at k=5); the oracle
    recomputes ALL THREE paths in DuckDB.

    The exact truth is STAGED (plans/ann_truth.py): the expensive kNN
    pass runs once per (query set, corpus, k) content key and later runs
    reuse the parquet — the r5 plan-audit fix for this being the
    priciest non-write query.  The staged result is key-verified, so the
    rows (and the untouched oracle) are identical either way."""
    from localmod_spark.operators.similarity import ann_join_topk, ivf_join_topk
    from localmod_spark.plans.ann_truth import staged_knn_truth
    from localmod_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0)
    tag = os.path.basename(os.path.normpath(sf_dir))
    truth = staged_knn_truth(q, emb, k=5, truth_dir=os.path.join(_ann_truth_base(), tag))
    lsh = ann_join_topk(q, emb, dim=_EMB_DIM, k=5, n_planes=8, hamming=1).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id"
    )
    ivf = ivf_join_topk(q, emb, dim=_EMB_DIM, k=5, n_lists=16, n_probe=2).select(
        F.lit("ivf").alias("method"), "query_id", "vec_id"
    )
    hits = (
        lsh.unionByName(ivf)
        .join(truth, ["query_id", "vec_id"], "left_semi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    total = truth.agg(F.count(F.lit(1)).alias("_n"))
    return hits.crossJoin(total).select(
        "method",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / F.col("_n"), 4).alias("recall_at_k"),
    )


def _ann_recall_sql() -> str:
    return f"""
        WITH truth AS (SELECT query_id, vec_id FROM ({_knn_join_sql()})),
        approx AS (
            SELECT 'lsh' AS method, query_id, vec_id FROM ({_ann_join_topk_sql()})
            UNION ALL
            SELECT 'ivf' AS method, query_id, vec_id FROM ({_ivf_join_topk_sql()})
        ),
        hits AS (
            SELECT method, CAST(count(*) AS BIGINT) AS n_hits
            FROM approx a JOIN truth t USING (query_id, vec_id)
            GROUP BY method
        )
        SELECT method, n_hits,
               round(n_hits / CAST((SELECT count(*) FROM truth) AS DOUBLE), 4)
                   AS recall_at_k
        FROM hits
    """


def _q_eval_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dataset benchmark metric sweep (the reference harness's
    dataset-level evaluation shape, chi2025_benchmark.py:343-381): one
    grouped aggregate emits a metric row per language split."""
    from localmod_spark.operators.evaluate import grouped_metrics
    from localmod_spark.operators.textstats import stopword_ratio_col
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "lang",
        (stopword_ratio_col("text") < 0.05).alias("pred"),
        (F.col("n_chars") < 250).alias("label"),
    )
    return grouped_metrics(pairs, ["lang"]).orderBy("lang")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: every 10th doc plays the NEW batch, the
    rest the already-selected corpus — survivors are new docs with no
    verified word-3-gram near-dup (j ≥ 0.9) in the corpus.  Only the new
    batch is sketched; corpus candidates come from a band equi-join
    against the corpus band table (the staged artifact an incremental
    pipeline reuses, plans/selection's ``bands/`` stage).  Oracle = all-pairs
    cross-set Jaccard in DuckDB (banding recall ≈ 1 at j=0.9, same
    argument as minhash_dedup)."""
    from localmod_spark.operators.dedup import (
        cross_dedup_survivors,
        explode_minhash_bands,
        with_minhash,
    )
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    corpus_bands = explode_minhash_bands(
        with_minhash(corpus, num_hashes=64, shingle_k=3, shingle_mode="word"),
        bands=16,
        rows_per_band=4,
    )
    out = cross_dedup_survivors(new, corpus, corpus_bands, threshold=0.9)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def _q_token_budget_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The budget-bounded-window variant of token_budget: histogram prune
    (one partial agg; bins above the crossing bin fit, bins below can
    hold no selected doc) then the exact window over the prefix-closed
    pruned set — identical rows incl. cum_tokens, window input bounded
    by the budget instead of the corpus.  Shares token_budget's oracle."""
    from localmod_spark.operators.sampling import select_token_budget_scalable
    from localmod_spark.operators.textstats import stopword_ratio_col, token_count_col
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        token_count_col("text").cast("long").alias("n_tokens"),
        stopword_ratio_col("text").alias("q"),
    )
    out = select_token_budget_scalable(
        docs, budget=3000, score_col="q", group_cols=("lang",), id_col="doc_id"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. ACL'22): every word 5-gram
    span occurring in ≥ 2 distinct documents — the repeated-boilerplate
    mode whole-doc exact + near dedup both miss.  All JVM-side
    (tokenize → position spans → explode → doc-frequency → equi-join
    back); oracle = the same n-gram self-frequency join in DuckDB."""
    from localmod_spark.operators.dedup import repeated_spans
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def _sel(out, unit):
        return out.select(
            F.lit(unit).alias("unit"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("pos").cast("long").alias("pos"),
            "gram",
            F.col("n_docs").cast("long").alias("n_docs"),
        )

    # one unit-keyed union entry: word 5-grams (lowercased tokens) + raw
    # 30-char shingles — the char mode catches boilerplate straddling
    # word boundaries, which word grams provably miss (tested)
    word = _sel(repeated_spans(docs, n=5, min_docs=2), "word")
    char = _sel(repeated_spans(docs, n=30, min_docs=2, unit="char"), "char")
    return word.unionByName(char)


def _q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL (Lee et al. ACL'22's actual dedup action): cut every
    flagged repeated 5-gram span out of each document — overlapping spans
    merge via coverage, reconstruction keeps original token case, one
    splice per doc.  Oracle = DuckDB list-comprehension recomputation of
    the same coverage filter over the same flagged span set."""
    from localmod_spark.operators.dedup import dedup_paragraphs, remove_repeated_spans
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def _sel(out, unit):
        return out.select(
            F.lit(unit).alias("unit"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "scrubbed_text",
            F.col("n_flagged_spans").cast("long").alias("n_flagged_spans"),
        )

    word = _sel(remove_repeated_spans(docs, n=5, min_docs=2), "word")
    char = _sel(remove_repeated_spans(docs, n=30, min_docs=2, unit="char"), "char")
    para = _sel(dedup_paragraphs(_paragraph_docs(docs), sep="\n", min_docs=2), "para")
    return word.unionByName(char).unionByName(para)


_PARA_W = 8  # words per derived paragraph line


def _paragraph_docs(docs: DataFrame) -> DataFrame:
    """Derive paragraph STRUCTURE from the flat word-stream testdata:
    reshape each document into {_PARA_W}-word lines joined by newlines —
    a deterministic reshaping of the real rows (no synthetic data), so
    the CCNet-style paragraph dedup has boundaries to operate on and
    stays non-vacuous (~150 cross-doc duplicate lines at sf0.01)."""
    ws = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(ws) / _PARA_W).cast("int") - 1),
        lambda i: F.array_join(F.slice(ws, i * _PARA_W + 1, _PARA_W), " "),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al., NeurIPS 2023): hashed
    uni+bigram bag models for target (lang='en') vs raw (everything),
    per-doc log importance ratio, deterministic hash-Gumbel top-k
    without replacement.  Selection visibly recovers the target: ~53%
    of picks are English vs a 39% base rate at sf0.001.  All hashes are
    md5-derived so the oracle replays the exact pick set."""
    from localmod_spark.operators.dsir import dsir_select
    from localmod_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = dsir_select(docs, docs.where(F.col("lang") == "en"), k=60, buckets=256)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.round("dsir_logw", 4).alias("dsir_logw"),
        F.col("dsir_rk").cast("long").alias("dsir_rk"),
    )


def _word_span_scrub_sql(n: int = 5, min_docs: int = 2) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace("t[i+0]", "t[i]")
    return f"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS t,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> '') AS ot
            FROM documents
        ),
        spans AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {n - 2})) - 1 AS pos,
                   unnest(list_transform(range(1, len(t) - {n - 2}), i -> {gram})) AS gram
            FROM tk WHERE len(t) >= {n}
        ),
        freq AS (
            SELECT gram FROM spans
            GROUP BY gram HAVING count(DISTINCT doc_id) >= {min_docs}
        ),
        ps AS (
            SELECT doc_id, list_distinct(list(pos)) AS ps
            FROM spans s JOIN freq f USING (gram) GROUP BY doc_id
        )
        SELECT 'word' AS unit, tk.doc_id,
               coalesce(array_to_string(
                   [ot[i] FOR i IN generate_series(1, len(ot))
                    IF len(list_filter(coalesce(ps, CAST([] AS BIGINT[])),
                                       p -> p <= i-1 AND i-1 < p + {n})) = 0],
                   ' '), '') AS scrubbed_text,
               CAST(coalesce(len(ps), 0) AS BIGINT) AS n_flagged_spans
        FROM tk LEFT JOIN ps USING (doc_id)
    """


def _char_span_scrub_sql(n: int = 30, min_docs: int = 2) -> str:
    """Char-mode cut: same coverage splice, over character positions of
    the raw text (kept chars join with the empty separator)."""
    return f"""
        WITH {_char_spans_cte_sql(n)},
        freq AS (
            SELECT gram FROM spans
            GROUP BY gram HAVING count(DISTINCT doc_id) >= {min_docs}
        ),
        ps AS (
            SELECT doc_id, list_distinct(list(pos)) AS ps
            FROM spans s JOIN freq f USING (gram) GROUP BY doc_id
        )
        SELECT 'char' AS unit, d.doc_id,
               coalesce(array_to_string(
                   [substr(d.text, CAST(i AS INT), 1)
                    FOR i IN generate_series(1, length(d.text))
                    IF len(list_filter(coalesce(ps, CAST([] AS BIGINT[])),
                                       p -> p <= i-1 AND i-1 < p + {n})) = 0],
                   ''), '') AS scrubbed_text,
               CAST(coalesce(len(ps), 0) AS BIGINT) AS n_flagged_spans
        FROM documents d LEFT JOIN ps USING (doc_id)
    """


def _para_scrub_sql(min_docs: int = 2, w: int = _PARA_W) -> str:
    """Paragraph-mode cut (CCNet/RefinedWeb): replay the {w}-word-line
    reshaping of :func:`_paragraph_docs`, flag normalized lines present
    in >= min_docs distinct docs, splice the survivors back with \\n."""
    return f"""
        WITH wsl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        pd AS (
            SELECT doc_id,
                   [array_to_string(ws[(i-1)*{w}+1 : i*{w}], ' ')
                    FOR i IN generate_series(1, CAST(ceil(len(ws)/{w}.0) AS BIGINT))]
                       AS paras
            FROM wsl
        ),
        px AS (
            SELECT doc_id, unnest(paras) AS para,
                   unnest(generate_series(1, len(paras))) AS pos
            FROM pd
        ),
        dup AS (
            SELECT lower(trim(para)) AS k FROM px WHERE trim(para) <> ''
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_docs}
        ),
        pf AS (
            SELECT px.doc_id, px.pos, px.para, (d.k IS NOT NULL) AS flg
            FROM px LEFT JOIN dup d ON d.k = lower(trim(px.para))
        )
        SELECT 'para' AS unit, doc_id,
               coalesce(array_to_string(
                   [p[2] FOR p IN list_sort(list_zip(list(pos), list(para), list(flg)), 'ASC')
                    IF NOT p[3]],
                   chr(10)), '') AS scrubbed_text,
               CAST(sum(CASE WHEN flg THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_spans
        FROM pf GROUP BY doc_id
    """


def _dsir_select_sql() -> str:
    """DuckDB replay of the DSIR pick (same params as _q_dsir_select),
    with the rounded log-weight aliased to the Spark column names."""
    from localmod_spark.operators.dsir import dsir_oracle_sql

    return dsir_oracle_sql(k=60, buckets=256, alpha=1.0, target_pred="lang = 'en'")


def _span_scrub_sql() -> str:
    return (
        f"SELECT * FROM ({_word_span_scrub_sql()}) "
        f"UNION ALL SELECT * FROM ({_char_span_scrub_sql()}) "
        f"UNION ALL SELECT * FROM ({_para_scrub_sql()})"
    )


def _shipped(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Every query's UDFs reference localmod_spark by module — ship the
    package to executors before building the plan."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # SQL-checkable
        "doc_stats": _shipped(_q_doc_stats),
        "text_features": _shipped(_q_text_features),
        "exact_dedup": _shipped(_q_exact_dedup),
        "bloom_dedup": _shipped(_q_bloom_dedup),
        "turn_windows": _shipped(_q_turn_windows),
        "user_activity": _shipped(_q_user_activity),
        "conv_decisions": _shipped(_q_conv_decisions),
        "skew_audit": _shipped(_q_skew_audit),
        "sessionize": _shipped(_q_sessionize),
        "pricing_summary": _shipped(_q_pricing_summary),
        "revenue_by_nation": _shipped(_q_revenue_by_nation),
        "bpe_token_count": _shipped(_q_bpe_token_count),
        "bpe_tokens": _shipped(_q_bpe_tokens),
        "validity": _shipped(_q_validity),
        "eval_metrics": _shipped(_q_eval_metrics),
        "embedding_dups": _shipped(_q_embedding_dups),
        "dup_clusters": _shipped(_q_dup_clusters),
        "corpus_select_best": _shipped(_q_corpus_select_best),
        "event_shapes": _shipped(_q_event_shapes),
        "rollup_stats": _shipped(_q_rollup_stats),
        "user_event_ops": _shipped(_q_user_event_ops),
        "temperature_sample": _shipped(_q_temperature_sample),
        "mix_corpora": _shipped(_q_mix_corpora),
        "dsir_select": _shipped(_q_dsir_select),
        "conv_text_stats": _shipped(_q_conv_text_stats),
        "conv_truncate": _shipped(_q_conv_truncate),
        "asof_click": _shipped(_q_asof_click),
        "interval_join": _shipped(_q_interval_join),
        "greedy_pack": _shipped(_q_greedy_pack),
        "decontaminate": _shipped(_q_decontaminate),
        "quality_checks": _shipped(_q_quality_checks),
        "single_vec_topk": _shipped(_q_single_vec_topk),
        "shuffle_shards": _shipped(_q_shuffle_shards),
        "knn_join": _shipped(_q_knn_join),
        "repeated_spans": _shipped(_q_repeated_spans),
        "span_scrub": _shipped(_q_span_scrub),
        "ann_recall": _shipped(_q_ann_recall),
        "eval_by_lang": _shipped(_q_eval_by_lang),
        "token_budget_scalable": _shipped(_q_token_budget_scalable),
        "incremental_dedup": _shipped(_q_incremental_dedup),
        # SQL-checkable via generated oracles (seeded constants as literals)
        "minhash_dedup": _shipped(_q_minhash_dedup),
        "simhash_dups": _shipped(_q_simhash_dups),
        "ann_join_topk": _shipped(_q_ann_join_topk),
        "ivf_join_topk": _shipped(_q_ivf_join_topk),
        "conv_context": _shipped(_q_conv_context),
        "media_features": _shipped(_q_media_features),
        # SQL-checkable via generated oracles (kernel parameter tables —
        # bigram logprobs, stopword profiles — embedded as SQL literals)
        "langid": _shipped(_q_langid),
        "quality": _shipped(_q_quality),
        # rows-only (CPython-re-bound scrub/regex paths; value oracle lives
        # in pytest — tests/test_spark_parity.py and
        # tests/test_reference_differential.py diff them against the actual
        # reference implementation)
        "moderation_pipeline": _shipped(_q_moderation),
        "pii_scrub": _shipped(_q_pii_scrub),
    }


_STOPLIST_SQL = "['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','are']"


# The canonical-normalization oracle expression over the deterministically
# dirtied text (decomposed accent + TAB + BEL + a space run appended) —
# built from the SAME template the kernel publishes, so implementation
# and oracle cannot drift apart.
from localmod_spark.kernel.normalize import DUCKDB_NORMALIZE_TEMPLATE as _NORM_TPL

_NORM_DIRTY_SQL = _NORM_TPL.format(
    col="(text || '  e' || chr(769) || chr(9) || chr(7))"
)

# ---------------------------------------------------------------------------
# Generated oracle SQL for the sketch/LSH operators.  The hyperplanes /
# centroids are deterministic seeded constants (parameters, not data), so
# they are embedded as array literals — DuckDB recomputes bucket and list
# assignments with the exact same arithmetic the Spark column expressions
# use.  All testdata embeddings are dim-64 (TESTDATA.md).
# ---------------------------------------------------------------------------

_EMB_DIM = 64


def _sql_vec(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _sql_dot(vec_expr: str, vals) -> str:
    return (
        f"list_sum(list_transform(list_zip({vec_expr}, {_sql_vec(vals)}), "
        "p -> CAST(p[1] AS DOUBLE) * p[2]))"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


def _sql_lsh_bucket(vec_expr: str, n_planes: int = 8, seed: int = 11) -> str:
    """Mirror of similarity.with_lsh_bucket: Σ (dot(v, plane_i) > 0) << i."""
    import numpy as np

    planes = np.random.RandomState(seed).randn(n_planes, _EMB_DIM)
    terms = [
        f"(CASE WHEN {_sql_dot(vec_expr, planes[i])} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _bpe_tokens_sql() -> str:
    """DuckDB replay of the pinned-merges BPE encode: per recursion step,
    apply the lowest-rank applicable merge at its leftmost position —
    exactly `operators/bpe.encode_word`.  Gotcha: DuckDB's
    ``list_position`` returns 0 (not NULL) for absent elements, hence the
    ``nullif(..., 0)``; recursion depth is bounded by max word length."""
    from localmod_spark.operators.bpe import BPE_PRETOKEN_PATTERN, PINNED_MERGES

    mkeys = "[" + ", ".join(f"'{a} {b}'" for a, b in PINNED_MERGES) + "]"
    pat = BPE_PRETOKEN_PATTERN  # DuckDB literals pass `\s` to RE2 verbatim
    return f"""
        WITH RECURSIVE words AS (
          SELECT doc_id, unnest(generate_series(1, len(toks))) AS widx, unnest(toks) AS word
          FROM (SELECT doc_id, regexp_extract_all(text, '{pat}') AS toks FROM documents)
        ),
        init AS (SELECT DISTINCT word FROM words),
        enc AS (
          SELECT word, regexp_extract_all(word, '.') AS syms, 0 AS step FROM init
          UNION ALL
          SELECT word,
                 syms[1:pos-1] || [syms[pos] || syms[pos+1]] || syms[pos+2:],
                 step + 1
          FROM (
            SELECT word, syms, step, best, list_position(pranks, best) AS pos
            FROM (
              SELECT word, syms, step, pranks,
                     list_min(list_filter(pranks, x -> x IS NOT NULL)) AS best
              FROM (
                SELECT word, syms, step,
                       [nullif(list_position({mkeys}, syms[i] || ' ' || syms[i+1]), 0)
                        FOR i IN generate_series(1, len(syms) - 1)] AS pranks
                FROM enc)))
          WHERE best IS NOT NULL
        ),
        final AS (
          SELECT word, syms FROM (
            SELECT word, syms,
                   row_number() OVER (PARTITION BY word ORDER BY step DESC) AS rn
            FROM enc)
          WHERE rn = 1
        )
        SELECT d.doc_id,
               CAST(coalesce(sum(len(f.syms)), 0) AS BIGINT) AS n_subwords,
               coalesce(string_agg(array_to_string(f.syms, ' '), ' ' ORDER BY w.widx), '')
                   AS subwords
        FROM documents d
        LEFT JOIN words w USING (doc_id)
        LEFT JOIN final f ON w.word = f.word
        GROUP BY d.doc_id
    """


def _greedy_pack_walk_sql() -> str:
    return """
        WITH RECURSIVE d AS (
            SELECT lang || '/' || CAST(doc_id // 200 AS VARCHAR) AS grp, doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                       AS n_tokens,
                   row_number() OVER (PARTITION BY lang || '/' || CAST(doc_id // 200 AS VARCHAR)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        walk(grp, rn, doc_id, n_tokens, pack_id, pack_fill) AS (
            SELECT grp, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.grp, d.rn, d.doc_id, d.n_tokens,
                   CASE WHEN w.pack_fill + d.n_tokens <= 512
                        THEN w.pack_id ELSE w.pack_id + 1 END,
                   CASE WHEN w.pack_fill + d.n_tokens <= 512
                        THEN w.pack_fill + d.n_tokens ELSE d.n_tokens END
            FROM walk w JOIN d ON d.grp = w.grp AND d.rn = w.rn + 1
        )
        SELECT grp, doc_id, n_tokens, pack_id, pack_fill FROM walk
    """


def _chunk_pack_sql(seq_len: int = 128) -> str:
    """Mirror of packing.chunk_fixed over the BPE-encoded documents:
    append <eos> per doc, global position = per-group running offset +
    in-doc index, chunk = position // seq_len.  string_split('', ' ')
    yields [''] (not []), hence the empty-subwords CASE."""
    return f"""
        WITH bpe AS ({_bpe_tokens_sql()}),
        docs AS (
            SELECT d.lang || '/' || CAST(d.doc_id // 200 AS VARCHAR) AS grp,
                   d.doc_id,
                   CASE WHEN b.subwords = '' THEN ['<eos>']
                        ELSE list_append(string_split(b.subwords, ' '), '<eos>')
                   END AS t
            FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
        ),
        offs AS (
            SELECT grp, doc_id, t, len(t) AS n,
                   COALESCE(sum(len(t)) OVER (
                       PARTITION BY grp ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS off
            FROM docs
        ),
        pos AS (
            SELECT grp, off + i - 1 AS gpos, tok
            FROM (SELECT grp, off, unnest(t) AS tok,
                         unnest(generate_series(1, n)) AS i
                  FROM offs)
        )
        SELECT grp, CAST(gpos // {seq_len} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_tokens,
               string_agg(tok, ' ' ORDER BY gpos) AS payload
        FROM pos GROUP BY grp, gpos // {seq_len}
    """


def _pack_union_sql() -> str:
    """Mode-keyed union mirroring `_q_greedy_pack`'s fold of first-fit
    packing + concat-and-chunk."""
    return f"""
        SELECT 'greedy' AS mode, grp, doc_id AS k, n_tokens,
               CAST(pack_id AS VARCHAR) || ':' || CAST(pack_fill AS VARCHAR) AS payload
        FROM ({_greedy_pack_walk_sql()})
        UNION ALL
        SELECT 'chunk' AS mode, grp, k, n_tokens, payload
        FROM ({_chunk_pack_sql()})
    """


def _lsh_topk_sql(k: int = 10) -> str:
    bucket = _sql_lsh_bucket("embedding")
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
        q AS (SELECT embedding AS qvec, bucket AS qb FROM b WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id, round({_sql_cos('e.embedding', 'q.qvec')}, 4) AS cosine
            FROM b e, q
            WHERE (e.bucket = q.qb
                   OR (xor(e.bucket, q.qb) & (xor(e.bucket, q.qb) - 1)) = 0)
              AND e.vec_id <> 0
        )
        SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


def _quant_topk_sql(k: int = 10) -> str:
    return f"""
            WITH qz AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
                FROM embeddings
            ),
            qv AS (
                SELECT vec_id,
                       CASE WHEN s = 0
                            THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) / s * 127.0 + 0.5) AS BIGINT))
                       END AS q
                FROM qz
            ),
            qq AS (SELECT q AS query_q FROM qv WHERE vec_id = 0),
            scored AS (
                SELECT v.vec_id,
                       CAST(list_sum(list_transform(list_zip(v.q, qq.query_q),
                                                    p -> p[1] * p[2])) AS DOUBLE)
                       / (sqrt(CAST(list_sum(list_transform(v.q, x -> x * x)) AS DOUBLE))
                          * sqrt(CAST(list_sum(list_transform(qq.query_q, x -> x * x)) AS DOUBLE)))
                           AS raw
                FROM qv v, qq WHERE v.vec_id <> 0
            )
            SELECT vec_id, round(raw, 4) AS cosine_q FROM scored
            ORDER BY raw DESC, vec_id ASC LIMIT {k}
    """


def _single_vec_topk_sql() -> str:
    """Union of the two single-vector ANN oracles, method-keyed — mirrors
    `_q_single_vec_topk`'s fold of lsh_topk + quant_topk."""
    return f"""
        SELECT 'lsh' AS method, vec_id, cosine AS score FROM ({_lsh_topk_sql()})
        UNION ALL
        SELECT 'int8' AS method, vec_id, cosine_q AS score FROM ({_quant_topk_sql()})
    """


def _mix_corpora_sql() -> str:
    """Budgets embedded as the EXACT doubles the Spark driver computes
    (same dict order, same `remaining * w / wsum` expression — float sums
    are order-sensitive, so the generator mirrors waterfill_budgets'
    no-dry first iteration verbatim); both engines then compare integer
    prefix sums against identical literals."""
    free = {s: float(w) for s, w in _MIX_WEIGHTS.items() if w > 0}
    wsum = sum(free.values())
    cases = " ".join(
        f"WHEN '{s}' THEN {_MIX_BUDGET * (w / wsum)!r}" for s, w in free.items()
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS t,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                   / 4294967296.0 AS u
          FROM documents),
        cums AS (
          SELECT doc_id, lang,
                 sum(t) OVER (PARTITION BY lang ORDER BY u, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM toks)
        SELECT doc_id, lang, CAST(cum AS BIGINT) AS cum_tokens
        FROM cums
        -- budget > 0 mirrors the Spark side's inner join against the
        -- positive-budget table: an UNWEIGHTED source's zero-token lead
        -- doc must not slip in via 0 <= 0.0
        WHERE (CASE lang {cases} ELSE 0.0 END) > 0
          AND cum <= (CASE lang {cases} ELSE 0.0 END)
    """


def _allpairs_embedding_dups_sql() -> str:
    return """
            SELECT id_a, id_b, cosine FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(
                         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                         4) AS cosine
                FROM embeddings a, embeddings b
                WHERE a.vec_id < b.vec_id
            ) WHERE cosine >= 0.3
    """


def _semdedup_sql(n_lists: int = 16, seed: int = 23, threshold: float = 0.3) -> str:
    """Mirror of similarity.semdedup's drop rule: seeded unit centroids
    as literals, argmax assignment, within-cluster pairs >= threshold,
    loser = the (ccos, id)-greater member of each qualifying pair."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.randn(n_lists, _EMB_DIM)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    scores = "[" + ", ".join(_sql_dot("embedding", cents[i]) for i in range(n_lists)) + "]"
    return f"""
        WITH s AS (SELECT vec_id, embedding, {scores} AS ls FROM embeddings),
        assigned AS (
            SELECT vec_id, embedding,
                   CAST(list_position(ls, list_max(ls)) - 1 AS BIGINT) AS cluster,
                   list_max(ls) / sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS ccos
            FROM s
        ),
        losers AS (
            -- pairs are id-ordered (a.vec_id < b.vec_id): equal ccos ⇒ loser is b
            SELECT DISTINCT CASE WHEN a.ccos > b.ccos
                                 THEN a.vec_id ELSE b.vec_id END AS vec_id
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {threshold}
        )
        SELECT CAST(vec_id AS BIGINT) AS id_a, cluster AS id_b,
               round(ccos, 4) AS cosine
        FROM assigned WHERE vec_id IN (SELECT vec_id FROM losers)
    """


def _embedding_dups_union_sql() -> str:
    """Method-keyed union mirroring `_q_embedding_dups`'s fold of the
    all-pairs baseline + the two-table LSH scale path + the SemDeDup
    cluster-pruning decision set."""
    return f"""
        SELECT 'allpairs' AS method, id_a, id_b, cosine
        FROM ({_allpairs_embedding_dups_sql()})
        UNION ALL
        SELECT 'lsh' AS method, id_a, id_b, cosine
        FROM ({_lsh_embedding_dups_sql()})
        UNION ALL
        SELECT 'semdedup' AS method, id_a, id_b, cosine
        FROM ({_semdedup_sql()})
    """


def _stopword_expr_sql() -> str:
    return (
        "(CASE WHEN length(trim(lower(text))) = 0 THEN 0.0 "
        "ELSE round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"x -> list_contains({_STOPLIST_SQL}, x))) "
        "/ len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6) END)"
    )


def _metrics_counts_sql(group: str) -> str:
    return (
        f"SELECT {group}, "
        "CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
        "CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
        "CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
        "CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn "
        f"FROM pairs GROUP BY {group}"
    )


def _metrics_formula_sql(lead: str) -> str:
    P = "(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)"
    R = "(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)"
    T = "(CASE WHEN tn + fp > 0 THEN tn / CAST(tn + fp AS DOUBLE) ELSE 0.0 END)"
    return (
        f"SELECT {lead}tp, fp, fn, tn, "
        f"round({P}, 6) AS precision, round({R}, 6) AS recall, "
        f"round(CASE WHEN {P} + {R} > 0 THEN 2 * {P} * {R} / ({P} + {R}) "
        "ELSE 0.0 END, 6) AS f1, "
        "round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy, "
        f"round(({R} + {T}) / 2, 6) AS balanced_accuracy FROM c"
    )


def _eval_by_lang_sql() -> str:
    return f"""
        WITH pairs AS (
            SELECT lang, ({_stopword_expr_sql()} < 0.05) AS pred,
                   (n_chars < 250) AS label
            FROM documents
        ),
        c AS ({_metrics_counts_sql('lang')})
        {_metrics_formula_sql('lang, ')} ORDER BY lang
    """


def _token_budget_sql(budget: int = 3000) -> str:
    return f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
                       AS n_tokens,
                   {_stopword_expr_sql()} AS q
            FROM documents
        ),
        w AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY q DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM d
        )
        SELECT doc_id, lang, n_tokens, cum_tokens FROM w WHERE cum_tokens <= {budget}
    """


def _ivf_join_topk_sql(n_lists: int = 16, seed: int = 23, n_probe: int = 2, k: int = 5) -> str:
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.randn(n_lists, _EMB_DIM)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    scores = "[" + ", ".join(_sql_dot("embedding", cents[i]) for i in range(n_lists)) + "]"
    return f"""
        WITH s AS (SELECT vec_id, embedding, {scores} AS ls FROM embeddings),
        assigned AS (
            SELECT vec_id, embedding,
                   CAST(list_position(ls, list_max(ls)) - 1 AS BIGINT) AS ivf_list
            FROM s
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qvec, ls AS qls
              FROM s WHERE vec_id % 50 = 0),
        probe AS (
            SELECT query_id, CAST(i - 1 AS BIGINT) AS lix
            FROM (SELECT query_id, unnest(qls) AS sc,
                         unnest(range(1, {n_lists + 1})) AS i FROM q)
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY sc DESC, i ASC) <= {n_probe}
        ),
        cand AS (
            SELECT q.query_id, a.vec_id,
                   round({_sql_cos('a.embedding', 'q.qvec')}, 4) AS cosine
            FROM assigned a JOIN probe p ON a.ivf_list = p.lix
                 JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cosine, rk FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM cand
        ) WHERE rk <= {k}
    """


def _ann_join_topk_sql(k: int = 5, n_planes: int = 8) -> str:
    """Multi-query LSH ANN join: buckets for every vector, queries =
    every 50th id, probe = own bucket or any hamming-1 neighbor (xor is
    0 or a power of two), per-query top-k window — the exact arithmetic
    of similarity.ann_join_topk."""
    bucket = _sql_lsh_bucket("embedding", n_planes=n_planes)
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qb
              FROM b WHERE vec_id % 50 = 0),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round({_sql_cos('e.embedding', 'q.qvec')}, 4) AS cosine
            FROM b e JOIN q
              ON (e.bucket = q.qb
                  OR (xor(e.bucket, q.qb) & (xor(e.bucket, q.qb) - 1)) = 0)
            WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cosine, rk FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


def _knn_join_sql(k: int = 5) -> str:
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                   FROM embeddings WHERE vec_id % 50 = 0),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round({_sql_cos('e.embedding', 'q.qvec')}, 4) AS cosine
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cosine, rk FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


def _incremental_dedup_sql(n: int = 3, threshold: float = 0.9) -> str:
    """Ground truth for the banded incremental dedup: all-pairs CROSS-SET
    word-n-gram Jaccard between the new slice and the corpus slice."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace("t[i+0]", "t[i]")
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= {n}
                        THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
                                                          i -> {gram}))
                        ELSE [array_to_string(t, ' ')] END AS g
            FROM toks
        ),
        dup_new AS (
            SELECT DISTINCT a.doc_id AS id_new
            FROM grams a JOIN grams b
              ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
            WHERE round(len(list_intersect(a.g, b.g)) /
                        CAST(greatest(len(list_distinct(list_concat(a.g, b.g))), 1) AS DOUBLE),
                        4) >= {threshold}
        )
        SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id % 10 = 0 AND d.doc_id NOT IN (SELECT id_new FROM dup_new)
    """


def _word_spans_cte_sql(n: int) -> str:
    """Shared word-span CTE bodies (tokenized table `t` + span table)."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace("t[i+0]", "t[i]")
    return f"""
        t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        spans AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {n - 2})) - 1 AS pos,
                   unnest(list_transform(range(1, len(t) - {n - 2}), i -> {gram})) AS gram
            FROM t WHERE len(t) >= {n}
        )"""


def _char_spans_cte_sql(n: int) -> str:
    """Char-shingle span table over the RAW text (case-sensitive, no
    whitespace normalization) — mirrors repeated_spans(unit='char')."""
    return f"""
        spans AS (
            SELECT doc_id,
                   unnest(range(1, length(text) - {n - 2})) - 1 AS pos,
                   unnest(list_transform(range(1, length(text) - {n - 2}),
                                         i -> substr(text, CAST(i AS INT), {n}))) AS gram
            FROM documents WHERE length(text) >= {n}
        )"""


def _repeated_spans_one_sql(spans_cte: str, unit: str, min_docs: int) -> str:
    return f"""
        WITH {spans_cte},
        freq AS (
            SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM spans GROUP BY gram HAVING count(DISTINCT doc_id) >= {min_docs}
        )
        SELECT '{unit}' AS unit, s.doc_id, CAST(s.pos AS BIGINT) AS pos, s.gram, f.n_docs
        FROM spans s JOIN freq f USING (gram)
    """


def _repeated_spans_sql(n_word: int = 5, n_char: int = 30, min_docs: int = 2) -> str:
    word = _repeated_spans_one_sql(_word_spans_cte_sql(n_word), "word", min_docs)
    char = _repeated_spans_one_sql(_char_spans_cte_sql(n_char), "char", min_docs)
    return f"SELECT * FROM ({word}) UNION ALL SELECT * FROM ({char})"


def _lsh_embedding_dups_sql(threshold: float = 0.3, n_tables: int = 2) -> str:
    buckets = ", ".join(
        f"{_sql_lsh_bucket('embedding', seed=11 + t)} AS b{t}" for t in range(n_tables)
    )
    any_table = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
        WITH b AS (SELECT vec_id, embedding, {buckets} FROM embeddings)
        SELECT id_a, id_b, cosine FROM (
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   round({_sql_cos('a.embedding', 'c.embedding')}, 4) AS cosine
            FROM b a JOIN b c ON ({any_table}) AND a.vec_id < c.vec_id
        ) WHERE cosine >= {threshold}
    """


def _sql_gram_ctes(n: int = 3, src: str = "documents") -> str:
    """Shared CTEs: word n-grams per document (matches ngram_jaccard)."""
    return f"""toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
            FROM {src}
        ),
        grams AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= {n}
                        THEN list_distinct(list_transform(range(1, len(t) - {n - 2}),
                                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                        ELSE [array_to_string(t, ' ')] END AS g
            FROM toks
        ),
        jac AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.g, b.g)) /
                         CAST(greatest(len(list_distinct(list_concat(a.g, b.g))), 1) AS DOUBLE), 4)
                       AS jaccard
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        )"""


def _simhash64_dups_sql(max_hamming: int = 3) -> str:
    """All-pairs hamming over DuckDB-recomputed 64-bit md5 simhash —
    ground truth for the pigeonhole-banding candidates (recall there is
    exact by construction, so the sets must be equal)."""
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> "
        f"CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END)"
        for i in range(64)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
            FROM documents
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 16))::UBIGINT) AS h
            FROM toks
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(CASE WHEN raw >= 9223372036854775808::HUGEINT
                             THEN raw - 18446744073709551616::HUGEINT
                             ELSE raw END AS BIGINT) AS simhash
            FROM (SELECT doc_id,
                         CASE WHEN len(h) = 0 THEN 0::HUGEINT ELSE ({terms}) END AS raw
                  FROM hs)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _minhash_jaccard_sql(n: int = 3, threshold: float = 0.9) -> str:
    """All-pairs word-3-gram Jaccard ≥ t — the ground truth the banding
    pipeline must reproduce (recall argument in _q_minhash_dedup)."""
    return f"""
        WITH {_sql_gram_ctes(n)}
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {threshold}
    """


def _dup_clusters_sql(n: int = 3, threshold: float = 0.9) -> str:
    """Transitive closure of the jaccard edge set via recursive CTE:
    component label = min reachable doc_id (singletons = own id)."""
    return f"""
        WITH RECURSIVE {_sql_gram_ctes(n)},
        edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {threshold}),
        sym AS (SELECT id_a AS a, id_b AS b FROM edges
                UNION SELECT id_b, id_a FROM edges),
        cc(v, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT s.a, c.lbl FROM cc c JOIN sym s ON s.b = c.v
        )
        SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
        FROM cc GROUP BY v
    """


def _corpus_select_best_sql(n: int = 3, threshold: float = 0.9) -> str:
    """Quality-aware selection oracle: the corpus_select CTE chain, with
    the per-cluster representative chosen by window argmax over the
    byte-exact quality-score subquery (nested WITH) instead of min id."""
    return f"""
        WITH RECURSIVE docs_v AS (
            SELECT doc_id, lang, text FROM documents
            WHERE text IS NOT NULL AND trim(text) <> '' AND length(text) <= 400
        ),
        {_sql_gram_ctes(n, src="docs_v")},
        edges AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {threshold}),
        sym AS (SELECT id_a AS a, id_b AS b FROM edges
                UNION SELECT id_b, id_a FROM edges),
        cc(v, lbl) AS (
            SELECT doc_id, doc_id FROM docs_v
            UNION
            SELECT s.a, c.lbl FROM cc c JOIN sym s ON s.b = c.v
        ),
        labels AS (SELECT v AS doc_id, min(lbl) AS cluster FROM cc GROUP BY v),
        qs AS (SELECT doc_id, quality_score FROM ({_quality_sql()})),
        ranked AS (
            SELECT l.cluster, l.doc_id, q.quality_score,
                   row_number() OVER (PARTITION BY l.cluster
                                      ORDER BY q.quality_score DESC, l.doc_id ASC) AS rk
            FROM labels l JOIN qs q USING (doc_id)
        )
        SELECT cluster, doc_id, quality_score, n_tokens FROM (
            SELECT CAST(r.cluster AS BIGINT) AS cluster,
                   CAST(r.doc_id AS BIGINT) AS doc_id,
                   r.quality_score,
                   CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
                       AS n_tokens
            FROM ranked r JOIN docs_v d USING (doc_id) WHERE r.rk = 1
        ) WHERE n_tokens BETWEEN 5 AND 1000
    """


def _quality_ccnet_sql() -> str:
    """The quality oracle plus CCNet's per-language tercile band:
    quantile_cont uses the same linear interpolation as Spark's
    ``percentile``, thresholds rounded(4) on both engines, comparison on
    the already-rounded perplexity."""
    return f"""
        WITH q AS ({_quality_sql()}),
        ql AS (SELECT q.*, d.lang FROM q JOIN documents d USING (doc_id)),
        th AS (SELECT lang,
                      round(quantile_cont(perplexity, 1.0/3), 4) AS t1,
                      round(quantile_cont(perplexity, 2.0/3), 4) AS t2
               FROM ql GROUP BY lang)
        SELECT ql.doc_id, ql.perplexity, ql.quality_score, ql.quality_flagged,
               ql.n_tokens, ql.lang,
               CASE WHEN perplexity <= t1 THEN 'head'
                    WHEN perplexity <= t2 THEN 'middle'
                    ELSE 'tail' END AS ccnet_bucket
        FROM ql JOIN th USING (lang)
    """


def _quality_sql() -> str:
    """Byte-exact SQL mirror of kernel/quality.py: the 28×28 char-bigram
    logprob table and the byte→symbol map are model PARAMETERS (a few KB,
    deterministic at import), so they embed as SQL literals — the same
    trick as the ANN plane/centroid literals above.  Perplexity is
    recomputed over the UTF-8 BYTES of the lowercased text (via
    hex(encode(...)) → per-byte table lookups), exactly the kernel's
    vectorized semantics including the multi-byte-char-as-OTHER rule, so
    the oracle holds on any input, not just ASCII fixtures.  The score
    rounds as the kernel's Python ``round(x, 6)`` does, by the double's
    exact value with exact ties to even: ``printf('%.6f')`` rounds so,
    DuckDB's ``round`` (half away from zero) and ``round_even`` (ties of
    ``x * 1e6``) do not.  0.9765625 is a true tie (0.976562), and the
    double nearest 1 - 0.3/64 lies just above 0.9953125 (0.995313)."""
    from localmod_spark.kernel.quality import _BYTE_TO_SYM, _LOGPROB_FLAT

    lp = "[" + ", ".join(repr(float(v)) for v in _LOGPROB_FLAT) + "]"
    bs = "[" + ", ".join(str(int(v)) for v in _BYTE_TO_SYM) + "]"
    return f"""
        WITH b AS (
            SELECT doc_id, text,
                   hex(encode(lower(text))) AS hx,
                   octet_length(encode(lower(text))) AS nb
            FROM documents
        ),
        syms AS (
            SELECT doc_id, text, nb,
                   list_transform(range(1, CAST(nb + 1 AS INT)),
                       i -> ({bs})[('0x' || substr(hx, CAST(2*i-1 AS INT), 2))::INT + 1]) AS s
            FROM b
        ),
        ppl AS (
            SELECT doc_id, text,
                   CASE WHEN nb < 2 THEN 0.0
                        ELSE exp(-list_sum(list_transform(range(1, CAST(nb AS INT)),
                                 i -> ({lp})[s[i]*28 + s[i+1] + 1])) / (nb - 1)) END AS ppl_raw
            FROM syms
        ),
        stats AS (
            SELECT doc_id, ppl_raw,
                   len(t) AS n,
                   CASE WHEN len(t) = 0 THEN 0.0
                        ELSE list_sum(list_transform(t, x -> length(x)))
                             / CAST(len(t) AS DOUBLE) END AS mwl,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha,
                   CASE WHEN len(t) >= 2
                        THEN 1.0 - len(list_distinct(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1]))) / CAST(len(t) - 1 AS DOUBLE)
                        ELSE 0.0 END AS dup
            FROM (SELECT doc_id, text, ppl_raw,
                         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
                  FROM ppl)
        ),
        eff AS (SELECT *, CASE WHEN n = 0 THEN 0.0 ELSE ppl_raw END AS ppl FROM stats)
        SELECT doc_id,
               round(ppl, 4) AS perplexity,
               CASE WHEN n = 0 THEN 1.0
                    ELSE greatest(0.0, CAST(printf('%.6f', 1.0 - (
                          least(greatest(ppl - 18.0, 0.0) / 10.0, 0.4)
                        + least(dup * 0.3, 0.3)
                        + least(greatest(mwl - 12.0, 0.0) / 30.0, 0.2)
                        + CASE WHEN n >= 20
                               THEN least(greatest(0.05 - alpha, 0.0) * 4.0, 0.1)
                               ELSE 0.0 END)) AS DOUBLE)) END AS quality_score,
               CASE WHEN n = 0 THEN FALSE
                    WHEN mwl > 30.0 THEN TRUE
                    WHEN n >= 20 AND alpha < 0.05 THEN TRUE
                    WHEN ppl > 26.0 AND n >= 5 THEN TRUE
                    ELSE FALSE END AS quality_flagged,
               CAST(n AS BIGINT) AS n_tokens
        FROM eff
    """


def _langid_sql() -> str:
    """SQL mirror of kernel/langid.py's two-stage identifier: script vote
    (Unicode-range regexes, first hit wins, non-ASCII texts only), then
    Latin stopword profiles scored hits/tokens with a 0.2 diacritic bonus
    and strict-> first-max tie-break.  Profile word lists / regexes embed
    as literals generated from the SAME kernel constants.  (Caveat: the
    script-stage confidence divides by RE2's ``\\s``-nonspace count vs
    Python's ``isspace`` — identical on ASCII and on every common script;
    the driver tables are ASCII where the stages agree exactly.)"""
    from localmod_spark.kernel.langid import _LATIN_PROFILES, _SCRIPT_RANGES, _WORD_RE

    def q(s: str) -> str:  # SQL string literal escape
        return s.replace("'", "''")

    word_pat = q(_WORD_RE.pattern)
    ascii_check = "(octet_length(encode(text)) = length(text))"
    nonspace = "greatest(length(regexp_replace(text, '\\s', '', 'g')), 1)"
    script_arms = "\n".join(
        f"WHEN NOT {ascii_check} AND len(regexp_extract_all(text, '{q(pat)}')) > 0 "
        f"THEN '{lang}'"
        for lang, pat in _SCRIPT_RANGES
    )
    script_conf_arms = "\n".join(
        f"WHEN NOT {ascii_check} AND len(regexp_extract_all(text, '{q(pat)}')) > 0 "
        f"THEN least(len(regexp_extract_all(text, '{q(pat)}')) / CAST({nonspace} AS DOUBLE), 1.0)"
        for lang, pat in _SCRIPT_RANGES
    )
    langs_lit = "[" + ", ".join(f"'{lang}'" for lang, _, _ in _LATIN_PROFILES) + "]"
    score_exprs = []
    for lang, words, chars in _LATIN_PROFILES:
        words_lit = "[" + ", ".join(f"'{q(w)}'" for w in sorted(words)) + "]"
        s = f"(len(list_filter(t, x -> list_contains({words_lit}, x))) / CAST(len(t) AS DOUBLE))"
        if chars:
            s += (
                f" + (CASE WHEN NOT {ascii_check} AND "
                f"regexp_matches(lower(text), '{q(chars)}') THEN 0.2 ELSE 0.0 END)"
            )
        score_exprs.append(s)
    scores_lit = "[" + ", ".join(score_exprs) + "]"
    return f"""
        WITH toks AS (
            SELECT doc_id, text,
                   regexp_extract_all(lower(text), '{word_pat}') AS t
            FROM documents
        ),
        scored AS (
            SELECT doc_id, text, t,
                   CASE {script_arms} ELSE NULL END AS script_lang,
                   CASE {script_conf_arms} ELSE NULL END AS script_conf,
                   CASE WHEN len(t) = 0 THEN NULL ELSE {scores_lit} END AS s
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN script_lang IS NOT NULL THEN script_lang
                    WHEN s IS NULL OR list_max(s) = 0.0 THEN 'und'
                    ELSE ({langs_lit})[list_position(s, list_max(s))] END AS lang_detected,
               round(CASE WHEN script_lang IS NOT NULL THEN script_conf
                          WHEN s IS NULL OR list_max(s) = 0.0 THEN 0.0
                          ELSE least(list_max(s), 1.0) END, 4) AS lang_conf
        FROM scored
    """


_CONV_CONTEXT_SQL = """
    WITH turns AS (
        SELECT user_id AS conv_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
               (event_type = 'error') AS flagged,
               ts
        FROM events
    )
    SELECT conv_id, turn_idx,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END)
                    OVER (PARTITION BY conv_id ORDER BY turn_idx) AS BIGINT) AS cum_flagged,
           round((epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY conv_id ORDER BY turn_idx)) / 1000000.0, 2) AS gap_seconds,
           CAST(CASE WHEN flagged
                     THEN turn_idx - coalesce(max(CASE WHEN NOT flagged THEN turn_idx END)
                          OVER (PARTITION BY conv_id ORDER BY turn_idx), 0)
                     ELSE 0 END AS BIGINT) AS flagged_run_len
    FROM turns
"""


def oracle_sql() -> dict[str, str]:
    return {
        "doc_stats": """
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   round(avg(n_chars), 4) AS avg_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "text_features": f"""
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS caps_ratio,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                   CASE WHEN length(trim(lower(text))) = 0 THEN 0.0
                        ELSE round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                                   x -> list_contains({_STOPLIST_SQL}, x)))
                                   / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6) END
                       AS stopword_ratio,
                   length(regexp_replace(text, '[^!?]', '', 'g')) >= 3 AS has_punct_burst,
                   length(text) AS n_chars_computed,
                   md5({_NORM_DIRTY_SQL}) AS norm_md5,
                   length({_NORM_DIRTY_SQL}) AS norm_len
            FROM documents
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS rep_id, count(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "bloom_dedup": """
            WITH batch AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id + 100000, text FROM documents WHERE doc_id % 8 = 5
            )
            SELECT b.doc_id FROM batch b
            WHERE NOT EXISTS (
                SELECT 1 FROM documents c
                WHERE c.doc_id % 4 <> 0 AND c.text = b.text)
        """,
        "turn_windows": """
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   coalesce(event_type = lag(event_type) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id), FALSE) AS is_repeat,
                   round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
                   ), 2) AS roll_value_1h
            FROM events
        """,
        "conv_decisions": """
            WITH t AS (
                SELECT user_id AS conv_id, count(*) AS n,
                       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS nf,
                       max(CASE WHEN event_type = 'error' AND value > 200 THEN 3
                                WHEN event_type = 'error' THEN 2 ELSE 0 END) AS mr
                FROM events GROUP BY user_id
            )
            SELECT conv_id, n AS n_turns, CAST(nf AS BIGINT) AS n_flagged,
                   round(nf * 1.0 / n, 6) AS flag_share,
                   CASE mr WHEN 3 THEN 'high' WHEN 2 THEN 'medium'
                           ELSE 'none' END AS max_severity,
                   NOT (nf * 1.0 / n > 0.25 OR mr >= 3) AS conv_keep,
                   CASE WHEN nf * 1.0 / n > 0.25 AND mr >= 3 THEN 'flag_share+severity'
                        WHEN nf * 1.0 / n > 0.25 THEN 'flag_share'
                        WHEN mr >= 3 THEN 'severity' ELSE '' END AS drop_reason
            FROM t
        """,
        "skew_audit": """
            WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
            s AS (SELECT count(*) AS nk, sum(cnt) AS tot, max(cnt) AS mx,
                         avg(cnt) AS av FROM c),
            top AS (SELECT user_id, cnt,
                           row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
                    FROM c QUALIFY rk <= 10),
            aud AS (SELECT event_type, event_id,
                           row_number() OVER (
                               PARTITION BY event_type
                               ORDER BY md5(CAST(event_id AS VARCHAR) || ':0'), event_id
                           ) AS rk
                    FROM events QUALIFY rk <= 3)
            SELECT 'sum' AS key, CAST(nk AS DOUBLE) AS c1, CAST(tot AS DOUBLE) AS c2,
                   CAST(mx AS DOUBLE) AS c3, round(mx / av, 6) AS c4
            FROM s
            UNION ALL
            SELECT 'top:' || user_id, CAST(cnt AS DOUBLE),
                   round(cnt / (SELECT CAST(tot AS DOUBLE) FROM s), 6),
                   CAST(rk AS DOUBLE), 0.0
            FROM top
            UNION ALL
            SELECT 'audit:' || event_type || ':' || event_id,
                   CAST(rk AS DOUBLE), 0.0, 0.0, 0.0
            FROM aud
        """,
        "user_activity": """
            SELECT user_id,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                   round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS error_share,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY user_id
        """,
        "sessionize": """
            WITH gaps AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            )
            SELECT event_id, user_id,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                       AS session_n
            FROM gaps
        """,

        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                       AS n_bpe_tokens
            FROM documents
        """,
        "validity": """
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN 'null_text'
                        WHEN trim(text) = '' THEN 'empty_text'
                        WHEN length(text) > 400 THEN 'too_long'
                        ELSE NULL END AS invalid_reason,
                   (CASE WHEN text IS NULL THEN 'null_text'
                         WHEN trim(text) = '' THEN 'empty_text'
                         WHEN length(text) > 400 THEN 'too_long'
                         ELSE NULL END) IS NULL AS valid
            FROM documents
        """,
        "eval_metrics": f"""
            WITH pairs AS (
                SELECT
                    (CASE WHEN length(trim(lower(text))) = 0 THEN 0.0
                          ELSE round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                                     x -> list_contains({_STOPLIST_SQL}, x)))
                                     / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6) END
                     < 0.05) AS pred,
                    (n_chars < 250) AS label
                FROM documents
            ),
            c AS (
                SELECT CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                       CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                       CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                       CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
                FROM pairs
            )
            SELECT tp, fp, fn, tn,
                   round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6) AS precision,
                   round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6) AS recall,
                   round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                            + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END) > 0
                         THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                                * (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)
                              / ((CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END)
                               + (CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END))
                         ELSE 0.0 END, 6) AS f1,
                   round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
                   round(((CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END)
                        + (CASE WHEN tn + fp > 0 THEN tn / CAST(tn + fp AS DOUBLE) ELSE 0.0 END)) / 2, 6)
                       AS balanced_accuracy
            FROM c
        """,
        "embedding_dups": _embedding_dups_union_sql(),

        "bpe_tokens": _bpe_tokens_sql(),

        "rollup_stats": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "user_event_ops": """
            SELECT 'no_big_purchase' AS section, user_id,
                   CAST(0 AS BIGINT) AS event_id, CAST(0 AS BIGINT) AS rk FROM (
                SELECT DISTINCT user_id FROM events e
                WHERE NOT EXISTS (SELECT 1 FROM events p
                                  WHERE p.user_id = e.user_id
                                    AND p.event_type = 'purchase' AND p.value > 150))
            UNION ALL
            SELECT 'click_not_buy' AS section, user_id,
                   CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM (
                SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
                EXCEPT
                SELECT DISTINCT user_id FROM events
                WHERE event_type = 'purchase' AND value > 100)
            UNION ALL
            SELECT 'topk' AS section, user_id, event_id, rk FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id ASC) AS rk
                FROM events
            ) WHERE rk <= 3
        """,
        "event_shapes": """
            SELECT 'user:' || user_id AS key,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS c3,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS c4,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS c5
            FROM events GROUP BY user_id
            UNION ALL
            SELECT 'pctl:' || event_type,
                   round(quantile_cont(value, 0.5), 4),
                   round(quantile_cont(value, 0.9), 4),
                   round(min(value), 2),
                   round(max(value), 2),
                   0.0
            FROM events GROUP BY event_type
        """,

        "temperature_sample": """
            WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
                       FROM documents GROUP BY lang),
            t AS (SELECT sum(n) AS N, sum(pow(n, 0.5)) AS denom FROM c),
            r AS (SELECT lang,
                         floor(0.3 * t.N * pow(c.n, 0.5 - 1) / t.denom
                               * 1000000) / 1000000 AS rate
                  FROM c, t)
            SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                      / 4294967296.0
                  < r.rate
        """,
        "conv_text_stats": """
            SELECT doc_id // 5 AS conv,
                   md5(string_agg(text, chr(10) ORDER BY doc_id)) AS text_md5,
                   count(*) AS n_turns,
                   length(string_agg(text, chr(10) ORDER BY doc_id)) AS n_chars
            FROM documents GROUP BY 1
        """,
        "conv_truncate": """
            SELECT doc_id, conv, cum_tokens FROM (
                SELECT doc_id, doc_id // 5 AS conv,
                       CAST(sum(n_chars) OVER (
                           PARTITION BY doc_id // 5 ORDER BY doc_id DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cum_tokens
                FROM documents)
            WHERE cum_tokens <= 400
        """,
        "asof_click": """
            WITH clicks AS (
                SELECT user_id, ts, max(event_id) AS click_event_id
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT p.event_id, c.click_event_id,
                   round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 2)
                       AS gap_seconds
            FROM p ASOF JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "interval_join": """
            WITH fp AS (
                SELECT user_id, min(ts) AS fp_start
                FROM events WHERE event_type = 'purchase' GROUP BY user_id
            )
            SELECT e.user_id, count(*) AS n_clicks,
                   round(sum(e.value), 2) AS click_value
            FROM events e JOIN fp ON e.user_id = fp.user_id
            WHERE e.event_type = 'click'
              AND e.ts >= fp.fp_start AND e.ts <= fp.fp_start + INTERVAL 1 DAY
            GROUP BY e.user_id
        """,
        "quality_checks": """
            WITH m AS (
                SELECT count(*) AS n,
                       CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS p0,
                       CAST(sum(CASE WHEN n_chars BETWEEN 1 AND 300 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
                       CAST(sum(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS p2,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS u
                FROM documents
            ),
            rows_out AS (
                SELECT 'complete(text)' AS chk, round(p0 / CAST(n AS DOUBLE), 6) AS pass_share,
                       1.0 AS min_pass_share FROM m
                UNION ALL
                SELECT 'range(n_chars)', round(p1 / CAST(n AS DOUBLE), 6), 0.9 FROM m
                UNION ALL
                SELECT 'in_set(lang)', round(p2 / CAST(n AS DOUBLE), 6), 1.0 FROM m
                UNION ALL
                SELECT 'unique(doc_id)', round(u / CAST(n AS DOUBLE), 6), 1.0 FROM m
            ),
            t AS (
                SELECT doc_id // 5 AS conv,
                       (doc_id % 5) + CASE WHEN doc_id % 37 = 0 THEN 10 ELSE 0 END AS idx,
                       CASE WHEN doc_id % 5 = 0
                            THEN CASE WHEN doc_id % 45 = 0 THEN 'assistant' ELSE 'user' END
                            WHEN doc_id % 41 = 0 THEN 'tool' ELSE 'assistant' END AS role,
                       CASE WHEN doc_id % 43 = 0 THEN 'search' ELSE NULL END AS tool,
                       ((doc_id % 5) + CASE WHEN doc_id % 37 = 0 THEN 10 ELSE 0 END) * 60
                           - CASE WHEN doc_id % 53 = 0 THEN 7200 ELSE 0 END AS ts
                FROM documents
            ),
            lagd AS (
                SELECT *, lag(ts) OVER (PARTITION BY conv ORDER BY idx) AS prev_ts FROM t
            ),
            cf AS (
                SELECT conv, count(*) AS n, min(idx) AS imin, max(idx) AS imax,
                       count(DISTINCT idx) AS idist,
                       min(CASE WHEN prev_ts IS NULL OR prev_ts <= ts THEN 1 ELSE 0 END) AS ts_ok,
                       min(CASE WHEN (role = 'tool') = (tool IS NOT NULL) THEN 1 ELSE 0 END) AS tool_ok,
                       arg_min(role, idx) AS role0
                FROM lagd GROUP BY conv
            ),
            cg AS (
                SELECT count(*) AS c,
                       CAST(sum(CASE WHEN imin = 0 AND imax = n - 1 AND idist = n THEN 1 ELSE 0 END) AS BIGINT) AS dense_n,
                       CAST(sum(ts_ok) AS BIGINT) AS mono_n,
                       CAST(sum(CASE WHEN role0 = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS first_n,
                       CAST(sum(tool_ok) AS BIGINT) AS tool_n
                FROM cf
            ),
            conv_rows AS (
                SELECT 'dense(idx)' AS chk, round(dense_n / CAST(c AS DOUBLE), 6) AS pass_share,
                       0.9 AS min_pass_share FROM cg
                UNION ALL SELECT 'monotone(ts)', round(mono_n / CAST(c AS DOUBLE), 6), 0.9 FROM cg
                UNION ALL SELECT 'first(role=user)', round(first_n / CAST(c AS DOUBLE), 6), 0.9 FROM cg
                UNION ALL SELECT 'tool_iff_role(tool)', round(tool_n / CAST(c AS DOUBLE), 6), 0.9 FROM cg
            ),
            eo_b AS (SELECT CASE WHEN n_chars > 60 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 120 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 180 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 240 THEN 1 ELSE 0 END AS b
                     FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
            eo_c AS (SELECT CASE WHEN n_chars > 60 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 120 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 180 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 240 THEN 1 ELSE 0 END AS b
                     FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
            ld_b AS (SELECT CASE WHEN n_chars > 60 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 120 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 180 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 240 THEN 1 ELSE 0 END AS b
                     FROM documents WHERE n_chars IS NOT NULL),
            ld_c AS (SELECT CASE WHEN n_chars > 60 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 120 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 180 THEN 1 ELSE 0 END
                          + CASE WHEN n_chars > 240 THEN 1 ELSE 0 END AS b
                     FROM documents WHERE n_chars > 120 AND n_chars IS NOT NULL),
            bl AS (SELECT CAST(range AS INT) AS b FROM range(5)),
            psi1 AS (
                SELECT round(sum((q.sh - p.sh) * ln(q.sh / p.sh)), 6) AS v
                FROM (SELECT bl.b,
                             (coalesce(cnt, 0) + 0.5)
                                 / ((SELECT count(*) FROM eo_b) + 2.5) AS sh
                      FROM bl LEFT JOIN (SELECT b, count(*) AS cnt FROM eo_b GROUP BY b)
                           USING (b)) p
                JOIN (SELECT bl.b,
                             (coalesce(cnt, 0) + 0.5)
                                 / ((SELECT count(*) FROM eo_c) + 2.5) AS sh
                      FROM bl LEFT JOIN (SELECT b, count(*) AS cnt FROM eo_c GROUP BY b)
                           USING (b)) q
                  ON p.b = q.b
            ),
            psi2 AS (
                SELECT round(sum((q.sh - p.sh) * ln(q.sh / p.sh)), 6) AS v
                FROM (SELECT bl.b,
                             (coalesce(cnt, 0) + 0.5)
                                 / ((SELECT count(*) FROM ld_b) + 2.5) AS sh
                      FROM bl LEFT JOIN (SELECT b, count(*) AS cnt FROM ld_b GROUP BY b)
                           USING (b)) p
                JOIN (SELECT bl.b,
                             (coalesce(cnt, 0) + 0.5)
                                 / ((SELECT count(*) FROM ld_c) + 2.5) AS sh
                      FROM bl LEFT JOIN (SELECT b, count(*) AS cnt FROM ld_c GROUP BY b)
                           USING (b)) q
                  ON p.b = q.b
            )
            SELECT chk AS "check", pass_share, min_pass_share,
                   pass_share >= min_pass_share AS passed
            FROM (SELECT * FROM rows_out UNION ALL SELECT * FROM conv_rows)
            UNION ALL
            SELECT 'even_odd:psi(n_chars)<=0.25', v, 0.25, v <= 0.25 FROM psi1
            UNION ALL
            SELECT 'long_docs:psi(n_chars)<=0.25', v, 0.25, v <= 0.25 FROM psi2
        """,
        "decontaminate": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS t
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(t) >= 5
                            THEN list_distinct(list_transform(range(1, len(t) - 3),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                      || ' ' || t[i+3] || ' ' || t[i+4]))
                            ELSE [] END AS gs
                FROM t
            ),
            dg AS (SELECT doc_id, unnest(gs) AS gram FROM g),
            eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 50 = 0)
            SELECT dg.doc_id, count(*) AS n_shared_grams
            FROM dg JOIN eg USING (gram) GROUP BY dg.doc_id
        """,
        "greedy_pack": _pack_union_sql(),
        "media_features": """
            WITH ids AS (
                SELECT row_number() OVER () - 1 AS media_id FROM documents
            ),
            parsed AS (
                SELECT media_id,
                       CAST(media_id % 3 AS INT) AS kind_ix,
                       list_transform(range(1, 17),
                           i -> ('0x' || substr(md5(CAST(media_id AS VARCHAR)),
                                                CAST(2*i-1 AS INT), 2))::BIGINT) AS bytes16,
                       ('0x' || substr(md5(CAST(media_id AS VARCHAR)), 1, 8))::BIGINT AS h
                FROM ids
            )
            SELECT media_id,
                   CASE kind_ix WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(2048 AS BIGINT) AS n_bytes,
                   round(CAST(list_sum(bytes16) AS DOUBLE) / 16.0, 6) AS byte_mean,
                   -- printf rounds as the kernel's Python round(x, 6) does
                   CAST(printf('%.6f', -list_sum(list_transform(list_distinct(bytes16),
                         v -> (len(list_filter(bytes16, x -> x = v)) / 16.0)
                              * log2(len(list_filter(bytes16, x -> x = v)) / 16.0)))) AS DOUBLE)
                       AS byte_entropy,
                   CAST(CASE WHEN kind_ix = 2
                             THEN greatest((h % 60000 + 1000) // 5000, 1)
                             ELSE 1 END AS BIGINT) AS n_frames_sampled
            FROM parsed
        """,
        "knn_join": _knn_join_sql(),
        "repeated_spans": _repeated_spans_sql(),
        "span_scrub": _span_scrub_sql(),
        "ann_recall": _ann_recall_sql(),
        "incremental_dedup": _incremental_dedup_sql(),
        "eval_by_lang": _eval_by_lang_sql(),
        # the scalable variant returns IDENTICAL rows (prefix-closed prune
        # + same window) — same oracle, independent value check
        "token_budget_scalable": _token_budget_sql(),
        # generated oracles (seeded constants embedded as literals)
        "ann_join_topk": _ann_join_topk_sql(),
        "ivf_join_topk": _ivf_join_topk_sql(),
        "single_vec_topk": _single_vec_topk_sql(),
        "mix_corpora": _mix_corpora_sql(),
        "dsir_select": _dsir_select_sql(),
        "shuffle_shards": """
            WITH keyed AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 17, 8))
                          AS UBIGINT) % 8 AS shard,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 15))
                          AS UBIGINT) AS skey
              FROM documents)
            SELECT doc_id,
                   CAST(shard AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                        AS BIGINT) AS pos
            FROM keyed
        """,
        "simhash_dups": _simhash64_dups_sql(),
        "minhash_dedup": _minhash_jaccard_sql(),
        "dup_clusters": _dup_clusters_sql(),
        "corpus_select_best": _corpus_select_best_sql(),
        "conv_context": _CONV_CONTEXT_SQL,
        "quality": _quality_ccnet_sql(),
        "langid": _langid_sql(),
    }
