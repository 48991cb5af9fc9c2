"""CRUD / write-path tests (SURVEY.md §2.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.operators import table_ops as TO
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        (1, 10, 0, [1.0, 2.0]),
        (2, 10, 1, [0.0, -1.0]),
        (3, 20, 0, [3.0, 4.0]),
        (4, 20, 1, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, post_id long, sequence_no int, vector array<float>")
    return TO.derive(df).withColumn("created_at", F.current_timestamp()).withColumn(
        "updated_at", F.current_timestamp()
    )


def test_derive_columns(table):
    r = {x["id"]: x for x in table.collect()}
    assert r[3]["magnitude"] == pytest.approx(5.0)
    assert r[3]["binary_code"] == [3]  # bits 11
    assert r[2]["binary_code"] == [0]  # 0.0 and -1.0 both -> bit 0
    assert r[3]["normalized_vector"] == pytest.approx([0.6, 0.8])


def test_by_id_and_composite_get(table):
    assert TO.by_id(table, 3).count() == 1
    assert TO.get(table, 10, 1).collect()[0]["id"] == 2
    assert TO.get(table, 99, 0).count() == 0


def test_by_ids_preserves_caller_order(table):
    got = [r["id"] for r in TO.by_ids(table, [3, 1, 4]).collect()]
    assert got == [3, 1, 4]
    assert TO.by_ids(table, []).count() == 0


def test_get_all_for_post_and_count(table):
    assert TO.get_all_for_post(table, 10).count() == 2
    assert TO.vector_count(table) == 4
    assert TO.get_all(table, cap=3).count() == 3


def test_delete(table):
    assert TO.delete(table, 1).count() == 3


def test_upsert_latest_wins_and_recomputes_derived(spark, table):
    new = spark.createDataFrame(
        [(10, 0, [6.0, 8.0]), (30, 0, [1.0, 1.0])],
        "post_id long, sequence_no int, vector array<float>",
    )
    out = TO.upsert(table, new)
    assert out.count() == 5  # 4 existing - 1 replaced + 2 new = 5
    r = {(x["post_id"], x["sequence_no"]): x for x in out.collect()}
    # replaced row: derived columns recomputed (reference quirk 4.4.4 fixed)
    assert r[(10, 0)]["magnitude"] == pytest.approx(10.0)
    assert r[(30, 0)]["binary_code"] == [3]
    # untouched row intact
    assert r[(20, 0)]["magnitude"] == pytest.approx(5.0)


def test_insert_all_replaces_document(spark, table):
    new = spark.createDataFrame(
        [(10, 0, [9.0, 0.0])], "post_id long, sequence_no int, vector array<float>"
    )
    out = TO.insert_all(table, 10, new)
    assert out.where(F.col("post_id") == 10).count() == 1
    assert out.count() == 3


def test_latest_per_post(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    df = spark.createDataFrame(
        [(1, 10, t0), (2, 10, t1), (3, 20, t0)],
        "id long, post_id long, updated_at timestamp",
    )
    got = {r["post_id"]: r["id"] for r in TO.latest_per_post(df).collect()}
    assert got == {10: 2, 20: 3}
    one = TO.get_latest_updated(df, 10).collect()
    assert len(one) == 1 and one[0]["id"] == 2


def test_reference_format_roundtrip(spark, tmp_path):
    """Export to the reference wire format (JSON vectors + hex codes) and
    import back: native arrays, packed codes, magnitudes all survive."""
    from wpvectordb_spark.sources import export as EX

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(100)
    table = TO.derive(
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("vec_id").alias("post_id"),
            F.col("embedding").alias("vector"),
        )
    )
    path = str(tmp_path / "refdump")
    EX.export_reference_json(table, path)
    back = EX.import_reference_json(spark, path)
    orig = {r["id"]: r for r in table.collect()}
    got = {r["id"]: r for r in back.collect()}
    assert set(got) == set(orig)
    for i, r in got.items():
        o = orig[i]
        assert r["binary_code"] == o["binary_code"]  # hex_to_code inverts K4
        assert r["magnitude"] == pytest.approx(o["magnitude"], rel=1e-6)
        assert r["vector"] == pytest.approx(list(o["vector"]), rel=1e-6)


def test_import_verify_derived_flags_stale_magnitude(spark, tmp_path):
    """Real WPVectorDb dumps carry STALE magnitudes (the reference's
    upsert never refreshes the column — VectorTable.php:360-368, SURVEY
    §4.4.4): verify_derived=True flags such rows without fixing them.
    A tampered magnitude and a tampered binary code each flip exactly
    their own flag; clean rows flag ok; a NULL vector flags NULL."""
    import json

    from wpvectordb_spark.sources import export as EX

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(4)
    table = TO.derive(
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("vec_id").alias("post_id"),
            F.col("embedding").alias("vector"),
        )
    )
    path = str(tmp_path / "staledump")
    EX.export_reference_json(table, path)
    # tamper the dump the way the reference's upsert bug would: row id0
    # keeps a magnitude from some OTHER vector; row id1 gets a flipped
    # code; one synthetic row has a NULL vector
    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, "part-*.json")))
    rows = []
    for f in files:
        with open(f) as fh:
            rows += [json.loads(ln) for ln in fh if ln.strip()]
    rows.sort(key=lambda r: r["id"])
    ids = [r["id"] for r in rows]
    rows[0]["magnitude"] = rows[0]["magnitude"] * 2 + 1.0
    code = rows[1]["binary_code"]
    rows[1]["binary_code"] = ("0" if code[0] != "0" else "f") + code[1:]
    rows.append({**rows[2], "id": max(ids) + 1, "vector": None})
    for f in files:
        os.remove(f)
    with open(os.path.join(path, "part-tampered.json"), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    back = {
        r["id"]: r
        for r in EX.import_reference_json(
            spark, path, verify_derived=True
        ).collect()
    }
    assert back[ids[0]]["magnitude_ok"] is False
    assert back[ids[0]]["binary_code_ok"] is True
    assert back[ids[1]]["magnitude_ok"] is True
    assert back[ids[1]]["binary_code_ok"] is False
    assert back[ids[2]]["magnitude_ok"] is True
    assert back[ids[2]]["binary_code_ok"] is True
    assert back[max(ids) + 1]["magnitude_ok"] is None
    # flagging, never fixing: the stale value itself is preserved
    assert back[ids[0]]["magnitude"] == rows[0]["magnitude"]


def test_hex_to_code_handles_empty_and_rejects_short(spark):
    """Empty imports as an empty code; full 8-char words parse; a SHORT
    TAIL (dims not divisible by 32 in the reference's codec) must raise —
    a fixed-width parse of it would silently mis-align the last word."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from wpvectordb_spark.functions import kernels as K

    df = spark.createDataFrame([("",), ("DEADBEEF00000001",)], "h string")
    rows = [r["c"] for r in df.select(K.hex_to_code("h").alias("c")).collect()]
    assert rows[0] == []
    assert rows[1] == [0xDEADBEEF, 1]

    short = spark.createDataFrame([("0f",)], "h string")
    with pytest.raises(SparkRuntimeException, match="multiple of 8"):
        short.select(K.hex_to_code("h").alias("c")).collect()


def test_upsert_preserves_id_and_created_at(spark):
    """The reference's UPDATE path keeps id and created_at on a replaced
    row; only updated_at and derived columns refresh."""
    import datetime as dt

    old = dt.datetime(2020, 1, 1)
    table = spark.createDataFrame(
        [(77, 1, 0, [1.0, 0.0], old, old)],
        "id long, post_id long, sequence_no int, vector array<float>, "
        "created_at timestamp, updated_at timestamp",
    )
    table = TO.derive(table)
    incoming = spark.createDataFrame(
        [(1, 0, [0.0, 2.0]), (2, 0, [3.0, 4.0])],
        "post_id long, sequence_no int, vector array<float>",
    )
    out = {r["post_id"]: r for r in TO.upsert(table, incoming).collect()}
    assert out[1]["id"] == 77  # kept
    assert out[1]["created_at"] == old  # kept
    assert out[1]["updated_at"] != old  # refreshed
    assert out[1]["magnitude"] == pytest.approx(2.0)  # recomputed
    assert out[2]["id"] is None  # brand-new key: the caller numbers it


def test_delete_and_insert_all_keep_null_key_rows(spark):
    """MySQL's DELETE WHERE key = x never touches NULL-key rows; the
    anti-filters must be null-safe to match."""
    table = spark.createDataFrame(
        [(1, 10, 0, [1.0]), (None, None, 0, [2.0])],
        "id long, post_id long, sequence_no int, vector array<float>",
    )
    kept = TO.delete(table, 1)
    assert kept.count() == 1
    assert kept.collect()[0]["id"] is None  # NULL row survived
    out = TO.insert_all(
        TO.derive(table), 10,
        spark.createDataFrame([(10, 0, [5.0])], "post_id long, sequence_no int, vector array<float>"),
    )
    assert out.where(F.col("post_id").isNull()).count() == 1


def test_upsert_leaves_untouched_rows_verbatim(spark):
    """Keys outside the batch pass through without regrouping: even
    pre-existing duplicate-key rows (invariant violations from an
    external import) survive unchanged instead of being silently
    collapsed into a row that never existed."""
    import datetime as dt

    t1, t2 = dt.datetime(2020, 1, 1), dt.datetime(2024, 1, 1)
    table = TO.derive(
        spark.createDataFrame(
            [
                (1, 5, 0, [1.0, 0.0]),
                (2, 5, 0, [0.0, 1.0]),  # duplicate key, different row
                (3, 7, 0, [1.0, 1.0]),
            ],
            "id long, post_id long, sequence_no int, vector array<float>",
        )
    ).withColumn(
        "created_at",
        F.when(F.col("id") == 1, F.lit(t1)).otherwise(F.lit(t2)),
    ).withColumn("updated_at", F.lit(t1))
    new = spark.createDataFrame(
        [(7, 0, [9.0, 9.0])], "post_id long, sequence_no int, vector array<float>"
    )
    out = TO.upsert(table, new)
    dups = out.where(F.col("post_id") == 5).collect()
    assert len(dups) == 2  # both duplicate rows untouched
    assert {(r["id"], r["created_at"]) for r in dups} == {(1, t1), (2, t2)}
    merged = out.where(F.col("post_id") == 7).collect()
    assert len(merged) == 1 and merged[0]["id"] == 3
    assert [round(x) for x in merged[0]["vector"]] == [9, 9]


def test_upsert_keeps_null_created_at_and_stored_vector_type(spark):
    table = TO.derive(
        spark.createDataFrame(
            [(1, 5, 0, [1.0, 0.0], "text")],
            "id long, post_id long, sequence_no int, vector array<float>,"
            " vector_type string",
        )
    ).withColumn("created_at", F.lit(None).cast("timestamp")).withColumn(
        "updated_at", F.current_timestamp()
    )
    new = spark.createDataFrame(
        [(5, 0, [2.0, 0.0])], "post_id long, sequence_no int, vector array<float>"
    )
    row = TO.upsert(table, new).collect()[0]
    assert row["created_at"] is None  # row existed: keep its NULL, not now()
    assert row["vector_type"] == "text"  # incoming NULL keeps stored type
    assert row["id"] == 1


def test_insert_all_enforces_key_invariant(spark):
    table = TO.derive(
        spark.createDataFrame(
            [(1, 5, 0, [1.0, 0.0]), (2, 7, 0, [0.0, 1.0])],
            "id long, post_id long, sequence_no int, vector array<float>",
        )
    ).withColumn("created_at", F.current_timestamp()).withColumn(
        "updated_at", F.current_timestamp()
    )
    new = spark.createDataFrame(
        [
            (5, 0, [9.0, 0.0]),
            (5, 0, [8.0, 0.0]),  # duplicate seq -> one deterministic winner
        ],
        "post_id long, sequence_no int, vector array<float>",
    )
    out = TO.insert_all(table, 5, new)
    assert out.where(F.col("post_id") == 5).count() == 1  # deduped
    p7 = out.where(F.col("post_id") == 7).collect()
    assert len(p7) == 1 and p7[0]["id"] == 2  # other posts untouched
    again = TO.insert_all(table, 5, new).where(F.col("post_id") == 5).collect()
    assert [round(x) for x in again[0]["vector"]] == [
        round(x) for x in out.where(F.col("post_id") == 5).collect()[0]["vector"]
    ]  # deterministic winner
    # FOREIGN post rows must fail LOUDLY at action time, not silently
    # vanish (a mixed-post batch losing chunks with no signal hid bugs)
    mixed = new.unionByName(
        spark.createDataFrame(
            [(7, 0, [6.0, 6.0])], "post_id long, sequence_no int, vector array<float>"
        )
    )
    with pytest.raises(Exception, match="chunk for post_id=7"):
        TO.insert_all(table, 5, mixed).collect()


def test_ingest_documents_jsonl_and_csv_quarantine(spark, tmp_path):
    """Raw-corpus ingestion: JSONL and CSV drops round-trip losslessly
    under the explicit schema; malformed lines land in the quarantine
    frame with their raw text (never dropped, never fatal); unknown
    formats refuse."""
    from wpvectordb_spark.sources.loaders import (
        DOCUMENTS_INGEST_SCHEMA,
        ingest_documents,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    want = sorted(map(tuple, docs.collect()))

    jdir = str(tmp_path / "drop_jsonl")
    docs.coalesce(2).write.json(jdir)
    good, quar = ingest_documents(spark, jdir, format="jsonl")
    assert sorted(map(tuple, good.collect())) == want
    # the text+from_json parse is exempt from SPARK-21610: a bare
    # count() on the quarantine WORKS (the datasource path refused it)
    assert quar.count() == 0
    # inject malformed lines: truncated json + a bare string + a
    # TYPE-MISMATCHED doc_id.  The type mismatch is the regression the
    # rewrite fixed: under the JSON datasource the corrupt decision was
    # re-derived against each query's pruned columns, so that row was
    # corrupt for `good` (doc_id projected) and clean for `quarantine`
    # (only the corrupt column read) — it vanished from BOTH frames.
    # blank-ish lines (empty / tab-only / space-only) are IGNORED — they
    # must not become phantom all-NULL good rows (from_json returns a
    # NULL struct, whose _corrupt_record IS NULL, so without the
    # parsed-non-null guard they'd pass the good filter)
    # ... and the bare JSON literal `null`: from_json yields a NULL
    # struct with NO corrupt record — it must quarantine with the raw
    # line, not vanish from both frames (the ADVICE r6 invariant)
    with open(f"{jdir}/zz_bad.json", "w") as f:
        f.write(
            '{"doc_id": 1, "text": "tru\nnot json at all\n'
            '{"doc_id": "seven", "text": "bad id"}\n'
            "null\n"
            "\t\n \n\n"
        )
    good2, quar2 = ingest_documents(spark, jdir, format="jsonl")
    assert sorted(map(tuple, good2.collect())) == want
    bad = quar2.collect()
    assert len(bad) == 4
    assert {r["_corrupt_record"] for r in bad} == {
        '{"doc_id": 1, "text": "tru',
        "not json at all",
        '{"doc_id": "seven", "text": "bad id"}',
        "null",
    }
    # the NULL-struct row carries typed NULL data columns + the raw line
    nrow = [r for r in bad if r["_corrupt_record"] == "null"][0]
    assert nrow["doc_id"] is None and nrow["text"] is None
    # every non-blank input line is in exactly one frame — no silent loss
    assert good2.count() + quar2.count() == len(want) + 4

    cdir = str(tmp_path / "drop_csv")
    docs.coalesce(2).write.csv(cdir)  # header-less, column order = schema
    goodc, quarc = ingest_documents(spark, cdir, format="csv")
    assert sorted(map(tuple, goodc.collect())) == want
    assert len(quarc.collect()) == 0
    # a row with the wrong token count quarantines, parseable rows survive
    with open(f"{cdir}/zz_bad.csv", "w") as f:
        f.write("9000001,only-two-fields\n")
    goodc2, quarc2 = ingest_documents(spark, cdir, format="csv")
    assert sorted(map(tuple, goodc2.collect())) == want
    assert [r["_corrupt_record"] for r in quarc2.collect()] == [
        "9000001,only-two-fields"
    ]
    with pytest.raises(ValueError, match="unknown format"):
        ingest_documents(spark, jdir, format="orc")
