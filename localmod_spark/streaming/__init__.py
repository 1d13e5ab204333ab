"""Structured-streaming ingest: bloom-gated exact dedup."""

from localmod_spark.streaming.score_stream import ingest_bloom_stream

__all__ = ["ingest_bloom_stream"]
