"""Training-shard sink (sources/sinks.py): per-file row caps, partition
layout, sorted shards, format round-trips, and the CSV complex-column
refusal."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wpvectordb_spark.sources import sinks as SK


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_write_corpus_row_cap_and_roundtrip(spark, tmp_path):
    """maxRecordsPerFile holds even when everything lands in one task,
    and the data round-trips exactly."""
    import pyarrow.parquet as pq

    docs = _docs(spark)
    n = docs.count()
    path = str(tmp_path / "c")
    report = SK.write_corpus(
        docs, path, n_files=1, max_records_per_file=100
    )
    assert report["n_files"] >= n // 100
    for root, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                assert pq.ParquetFile(os.path.join(root, f)).metadata.num_rows <= 100
    back = SK.read_corpus(spark, path)
    assert back.count() == n
    assert back.exceptAll(docs).count() == 0


def test_write_corpus_partitioned_sorted_shards(spark, tmp_path):
    """The full shard layout: Hive dirs by lang, ranges of doc_id per
    file (disjoint — the loader skips by footer stats)."""
    from wpvectordb_spark.operators import maintenance as M

    docs = _docs(spark)
    path = str(tmp_path / "c")
    SK.write_corpus(
        docs, path, partition_by=["lang"], sort_by=["doc_id"], n_files=4
    )
    langs = {d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("lang=")}
    want = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert langs == want
    assert M.partition_columns(spark, path) == ["lang"]
    # each lang dir's files carry near-disjoint doc_id ranges (pick the
    # dir with the MOST files so the assertion can never go vacuous —
    # the range split guarantees multi-file dirs exist at 4 ranges)
    probe = int(docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0])
    dirs = [os.path.join(path, f"lang={lg}") for lg in sorted(langs)]
    stats_by_dir = {d: M.data_skipping_stats(d, "doc_id") for d in dirs}
    best = max(stats_by_dir.values(), key=len)
    assert len(best) > 1, {d: len(s) for d, s in stats_by_dir.items()}
    assert M.scan_fraction(best, probe) <= 2 / len(best) + 1e-9
    assert SK.read_corpus(spark, path).count() == docs.count()


def test_write_corpus_orc_and_json_roundtrip(spark, tmp_path):
    docs = _docs(spark)
    for fmt in ("orc", "json"):
        path = str(tmp_path / fmt)
        report = SK.write_corpus(docs, path, fmt=fmt, n_files=2)
        assert report["n_files"] >= 1 and report["total_bytes"] > 0
        back = SK.read_corpus(
            spark, path, fmt=fmt,
            schema=docs.schema if fmt == "json" else None,
        )
        assert back.count() == docs.count()
        assert back.select("doc_id").exceptAll(docs.select("doc_id")).count() == 0


def test_write_corpus_csv_refuses_complex_columns(spark, tmp_path):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    with pytest.raises(ValueError, match="embedding"):
        SK.write_corpus(emb, str(tmp_path / "c"), fmt="csv")
    # flat frames write fine
    flat = emb.select("vec_id", "label")
    report = SK.write_corpus(flat, str(tmp_path / "c2"), fmt="csv", n_files=1)
    assert report["n_files"] == 1
    back = SK.read_corpus(
        spark, str(tmp_path / "c2"), fmt="csv", schema="vec_id long, label int"
    )
    assert back.count() == flat.count()


def test_write_corpus_rejects_unknown_format(spark, tmp_path):
    with pytest.raises(ValueError, match="format"):
        SK.write_corpus(_docs(spark), str(tmp_path / "c"), fmt="avro")


def test_write_corpus_empty_frame(spark, tmp_path):
    """An empty frame writes a valid (empty) dataset that reads back
    empty — the zero-survivors pipeline tail must not crash the sink."""
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    path = str(tmp_path / "c")
    report = SK.write_corpus(empty, path, n_files=1, sort_by=["doc_id"])
    assert report["total_bytes"] >= 0
    assert SK.read_corpus(spark, path).count() == 0
