"""Structured-streaming ingest: bloom-gated exact dedup."""

from localmod_spark.streaming.score_stream import compact_ingest_corpus, ingest_bloom_stream

__all__ = ["compact_ingest_corpus", "ingest_bloom_stream"]
