"""JSONL/CSV export-import: round-trip fidelity, deterministic sharding,
corrupt-line quarantine."""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest

from pyspark.sql import functions as F

from acled_spark.export import (
    corrupt_line_audit,
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from acled_spark.tables import load
from tests.conftest import SF_DIR

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _doc_set(df):
    return {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in df.collect()
    }


def test_jsonl_roundtrip_exact(spark, tmp_path):
    out = os.path.join(str(tmp_path), "docs_jsonl")
    docs = load(spark, SF_DIR, "documents", spread=True)
    write_jsonl(docs, out, shards=4, sort_col="doc_id")
    back = read_jsonl(spark, out, DOC_SCHEMA)
    assert _doc_set(back) == _doc_set(docs)


def test_jsonl_sharding_deterministic(spark, tmp_path):
    """Same input -> byte-identical shard contents across re-runs."""
    docs = load(spark, SF_DIR, "documents", spread=True)

    def shard_lines(path):
        out = {}
        for f in sorted(glob.glob(os.path.join(path, "part-*.gz"))):
            with gzip.open(f, "rt") as fh:
                # key shards by their first record, not filename randomness
                lines = fh.read().splitlines()
            if not lines:  # range partitioning may emit empty shards
                continue
            out[json.loads(lines[0])["doc_id"]] = lines
        return out

    p1 = os.path.join(str(tmp_path), "run1")
    p2 = os.path.join(str(tmp_path), "run2")
    write_jsonl(docs, p1, shards=4, sort_col="doc_id")
    write_jsonl(docs, p2, shards=4, sort_col="doc_id")
    assert shard_lines(p1) == shard_lines(p2)


def test_jsonl_corrupt_lines_quarantined(spark, tmp_path):
    src = os.path.join(str(tmp_path), "mixed")
    os.makedirs(src)
    with open(os.path.join(src, "data.jsonl"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n')
        fh.write("this is not json\n")
        fh.write('{"doc_id": 2, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}\n')
        fh.write('{"broken": \n')
    clean = read_jsonl(spark, src, DOC_SCHEMA)
    assert clean.count() == 2
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    audit = corrupt_line_audit(spark, src, DOC_SCHEMA).collect()[0]
    assert audit["total_lines"] == 4
    assert audit["corrupt_lines"] == 2


def test_csv_roundtrip(spark, tmp_path):
    out = os.path.join(str(tmp_path), "orders_csv")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    write_csv(orders, out, shards=2)
    back = read_csv(
        spark, out,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
    )
    assert back.count() == orders.count()
    s = orders.agg(F.round(F.sum("o_totalprice"), 2).alias("t")).collect()[0]["t"]
    b = back.agg(F.round(F.sum("o_totalprice"), 2).alias("t")).collect()[0]["t"]
    assert s == b


# --- shard manifests ---------------------------------------------------------
def test_manifest_roundtrip_and_corruption_detection(spark, tmp_path):
    from acled_spark.export import (
        shard_manifest,
        verify_manifest,
        write_manifest,
    )

    docs = load(spark, SF_DIR, "documents", spread=True)
    out = str(tmp_path / "export")
    write_jsonl(docs, out, shards=4, sort_col="doc_id", compression="none")

    back = read_jsonl(spark, out, DOC_SCHEMA)
    n = write_manifest(back, out)
    # hash-bucketed shard placement emits UP TO the requested count
    # (deterministically — two buckets may share a partition)
    assert 1 <= n <= 4
    # intact export verifies clean, and the gate's own fresh read
    # (possibly different task scheduling) reproduces every digest
    assert verify_manifest(spark, out, DOC_SCHEMA) == []

    entries = shard_manifest(read_jsonl(spark, out, DOC_SCHEMA))
    assert sum(e["rows"] for e in entries) == docs.count()
    assert all(e["digest"] for e in entries)

    # corrupt one shard: append a valid JSONL row.  Drop the local-FS
    # CRC sidecar as a rewriting process would regenerate it — the
    # manifest exists exactly for corruption that arrives with
    # CONSISTENT file checksums (partial re-export, silent rewrite).
    part = sorted(
        (f for f in glob.glob(f"{out}/part-*.json") if os.path.getsize(f) > 0)
    )[0]
    with open(part, "a") as fh:
        fh.write(
            json.dumps(
                {"doc_id": 999999, "text": "injected", "lang": "en",
                 "source": "evil", "n_chars": 8}
            )
            + "\n"
        )
    crc = os.path.join(out, f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    problems = verify_manifest(spark, out, DOC_SCHEMA)
    assert len(problems) == 1
    assert problems[0]["problem"] == "content_mismatch"
    assert problems[0]["shard"] == os.path.basename(part)
    assert problems[0]["actual"]["rows"] == problems[0]["recorded"]["rows"] + 1

    # delete a shard entirely -> missing (the gate's fresh read makes
    # this a report, not a stale-listing read crash)
    os.remove(part)
    problems = verify_manifest(spark, out, DOC_SCHEMA)
    assert {p["problem"] for p in problems} == {"missing"}

    # truncate another NONEMPTY shard to zero bytes: the file inventory
    # keeps it visible, so it reports as content_mismatch (rows 0), not
    # missing (hash-bucketed placement can leave a legitimately empty
    # shard file — truncating that one would be a no-op)
    part2 = sorted(
        (f for f in glob.glob(f"{out}/part-*.json") if os.path.getsize(f) > 0)
    )[0]
    open(part2, "w").close()
    crc2 = os.path.join(out, f".{os.path.basename(part2)}.crc")
    if os.path.exists(crc2):
        os.remove(crc2)
    problems = {p["shard"]: p["problem"] for p in verify_manifest(spark, out, DOC_SCHEMA)}
    assert problems[os.path.basename(part2)] == "content_mismatch"

    # a foreign data file dropped into the export dir -> unexpected
    with open(os.path.join(out, "part-99999-foreign.json"), "w") as fh:
        pass
    problems = {p["shard"]: p["problem"] for p in verify_manifest(spark, out, DOC_SCHEMA)}
    assert problems["part-99999-foreign.json"] == "unexpected"


def test_truncated_gzip_shard_reports_unreadable(spark, tmp_path):
    """Codec-level corruption (truncated gzip member) must come back as
    a problem record from the gate, not a Py4J crash: DROPMALFORMED
    only absorbs JSON parse errors, so the bulk pass fails and the
    per-shard fallback isolates the undecodable file."""
    from acled_spark.export import verify_manifest, write_manifest

    docs = load(spark, SF_DIR, "documents", spread=True)
    out = str(tmp_path / "gz_export")
    write_jsonl(docs, out, shards=3, sort_col="doc_id")  # gzip default
    write_manifest(read_jsonl(spark, out, DOC_SCHEMA), out)
    assert verify_manifest(spark, out, DOC_SCHEMA) == []

    part = sorted(glob.glob(f"{out}/part-*.gz"))[1]
    blob = open(part, "rb").read()
    with open(part, "wb") as fh:
        fh.write(blob[: len(blob) // 2])  # mid-stream truncation
    crc = os.path.join(out, f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    problems = {p["shard"]: p for p in verify_manifest(spark, out, DOC_SCHEMA)}
    assert problems[os.path.basename(part)]["problem"] == "unreadable"
    # intact shards still verified clean by the fallback
    assert set(problems) == {os.path.basename(part)}


def test_partitioned_export_manifest(spark, tmp_path):
    """Partition-directory layouts reuse basenames across subdirs, so
    manifest keys must be root-relative paths and the on-disk inventory
    must recurse — one entry per physical file, zero-row reconciliation
    intact."""
    from acled_spark.export import shard_manifest, verify_manifest, write_manifest

    docs = load(spark, SF_DIR, "documents", spread=True)
    out = str(tmp_path / "by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)

    def read_parquet(spark, path, schema):
        return spark.read.schema(schema).parquet(path)

    back = read_parquet(spark, out, DOC_SCHEMA)
    entries = shard_manifest(back, out)
    # every physical file keyed by its partition-relative path
    assert all("/" in e["shard"] and e["shard"].startswith("lang=") for e in entries)
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert len(entries) >= len(langs)
    assert sum(e["rows"] for e in entries) == docs.count()

    write_manifest(back, out)
    assert verify_manifest(spark, out, DOC_SCHEMA, reader=read_parquet) == []

    # delete one subdirectory file -> reported missing by relative path
    victim = sorted(glob.glob(f"{out}/lang=*/part-*.parquet"))[0]
    os.remove(victim)
    rel = os.path.relpath(victim, out)
    problems = {p["shard"]: p["problem"] for p in
                verify_manifest(spark, out, DOC_SCHEMA, reader=read_parquet)}
    assert problems == {rel: "missing"}


def test_shuffled_export_is_stable_and_randomized(spark, tmp_path):
    """A seed-shuffled export reproduces byte-identical shards across
    re-runs, holds exactly the input rows, breaks the input order, and
    re-orders under a different seed."""
    docs = load(spark, SF_DIR, "documents", spread=True)

    def shard_texts(path):
        out = {}
        for f in sorted(glob.glob(os.path.join(path, "part-*.gz"))):
            with gzip.open(f, "rt") as fh:
                lines = fh.read().splitlines()
            if lines:
                out[json.loads(lines[0])["doc_id"]] = lines
        return out

    p1, p2, p3 = (str(tmp_path / n) for n in ("s1", "s2", "s3"))
    write_jsonl(docs, p1, shards=4, sort_col="doc_id", shuffle_seed="7")
    write_jsonl(docs, p2, shards=4, sort_col="doc_id", shuffle_seed="7")
    write_jsonl(docs, p3, shards=4, sort_col="doc_id", shuffle_seed="8")
    assert shard_texts(p1) == shard_texts(p2)  # same seed -> same bytes
    assert shard_texts(p1) != shard_texts(p3)  # new seed -> new order

    back = read_jsonl(spark, p1, DOC_SCHEMA)
    assert _doc_set(back) == _doc_set(docs)  # a permutation, not a sample
    # within a shard, doc_ids are not in input order
    ids = [json.loads(l)["doc_id"] for l in next(iter(shard_texts(p1).values()))]
    assert len(ids) > 2 and ids != sorted(ids)


@pytest.mark.slow  # ~30 s corrupt-file e2e (VERDICT r14 #1)
def test_partitioned_fallback_isolates_corrupt_file(spark, tmp_path):
    """When the bulk verify pass crashes on a corrupt file in a
    partitioned layout, the per-file fallback must flag ONLY that file
    (rows-only comparison for subdirectory shards — per-file reads lose
    partition columns, so digest comparison would false-positive on
    every intact shard)."""
    from acled_spark.export import verify_manifest, write_manifest

    docs = load(spark, SF_DIR, "documents", spread=True)
    out = str(tmp_path / "by_lang2")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)

    def read_parquet(spark, path, schema):
        return spark.read.schema(schema).parquet(path)

    write_manifest(read_parquet(spark, out, DOC_SCHEMA), out)
    victim = sorted(glob.glob(f"{out}/lang=*/part-*.parquet"))[0]
    blob = open(victim, "rb").read()
    with open(victim, "wb") as fh:
        fh.write(blob[: len(blob) // 2])  # destroy the parquet footer
    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    problems = {p["shard"]: p["problem"] for p in
                verify_manifest(spark, out, DOC_SCHEMA, reader=read_parquet)}
    assert problems == {os.path.relpath(victim, out): "unreadable"}


def test_shuffle_rejects_colliding_columns(spark):
    from acled_spark.queries.packing import shuffle_assignment

    docs = load(spark, SF_DIR, "documents", spread=True).withColumn("pos", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        shuffle_assignment(docs)


def test_tab_only_lines_reconcile_with_reader(spark, tmp_path):
    """Round-7 review: the file-based JSON reader skips lines that are
    blank after stripping JSON whitespace (space/tab/CR/LF), but F.trim
    strips only spaces — a tab-only line inflated total_lines and broke
    the exported==expected reconciliation on an intact export."""
    p = str(tmp_path / "ws")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "a", "lang": "en", '
                 '"source": "s", "n_chars": 1}\n')
        fh.write("\t\n")        # tab-only: reader skips
        fh.write("  \n")        # spaces: reader skips
        fh.write("\t \t\n")     # mixed: reader skips
        fh.write('{"doc_id": 2, "text": "b", "lang": "en", '
                 '"source": "s", "n_chars": 1}\n')
    audit = corrupt_line_audit(spark, p, DOC_SCHEMA).collect()[0]
    n_reader = read_jsonl(spark, p, DOC_SCHEMA).count()
    assert audit["corrupt_lines"] == 0
    assert audit["total_lines"] == n_reader == 2  # reconciles exactly


def test_vertical_tab_line_counts_corrupt_like_the_reader(spark, tmp_path):
    """VT/FF-only lines are NOT skipped by the reader — they parse as
    corrupt records; the audit must agree."""
    p = str(tmp_path / "vt")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "a", "lang": "en", '
                 '"source": "s", "n_chars": 1}\n')
        fh.write("\x0b\n")
    audit = corrupt_line_audit(spark, p, DOC_SCHEMA).collect()[0]
    assert audit["total_lines"] == 2 and audit["corrupt_lines"] == 1
    assert read_jsonl(spark, p, DOC_SCHEMA).count() == 1


def test_hash_shard_branch_rejects_temp_column_collision(spark, tmp_path):
    """Round-7 review: the shards+sort_col branch silently clobbered
    and dropped an input column named __range_shard; it must raise like
    the shuffle branch does for its temps."""
    docs = load(spark, SF_DIR, "documents", spread=True).limit(10).withColumn(
        "__range_shard", F.lit(1)
    )
    with pytest.raises(ValueError, match="__range_shard"):
        write_jsonl(docs, str(tmp_path / "x"), shards=2, sort_col="doc_id")


def test_verify_manifest_catches_appended_garbage(spark, tmp_path):
    """Round-7 review: DROPMALFORMED made the rows/digest gate blind to
    garbage APPENDED to an uncompressed shard (the malformed lines
    vanish from the parse).  verify_manifest must now report the shard
    as unparseable_lines."""
    from acled_spark.export import verify_manifest, write_manifest

    docs = load(spark, SF_DIR, "documents", spread=True).limit(20)
    out = str(tmp_path / "exp")
    write_jsonl(docs, out, shards=2, sort_col="doc_id", compression="none")
    back = read_jsonl(spark, out, DOC_SCHEMA)
    write_manifest(back, out)
    assert verify_manifest(spark, out, DOC_SCHEMA) == []

    shard = sorted(glob.glob(os.path.join(out, "part-*")))[0]
    with open(shard, "a") as fh:
        fh.write("garbage not json\nmore garbage\n")
    # drop the local-FS CRC sidecar: the scenario under test is
    # corruption that arrives WITH consistent file checksums (an object
    # store has no .crc sidecars; locally the stale one would fail the
    # read outright and mask the parser-level blindness)
    crc = os.path.join(os.path.dirname(shard),
                       "." + os.path.basename(shard) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    problems = verify_manifest(spark, out, DOC_SCHEMA)
    kinds = {p["problem"] for p in problems}
    assert "unparseable_lines" in kinds
    bad = [p for p in problems if p["problem"] == "unparseable_lines"][0]
    assert bad["corrupt_lines"] == 2


def test_text_pass_only_failure_surfaces_as_problem(spark, tmp_path, monkeypatch):
    """r8 lens review: when the BULK digest pass succeeds but the raw
    text pass (the appended-garbage gate) crashes, verify_manifest used
    to swallow the exception and return [] — 'export intact' with the
    gate unrun.  It must emit a text_pass_failed record instead."""
    from acled_spark import fsutil
    from acled_spark.export import verify_manifest, write_manifest

    docs = load(spark, SF_DIR, "documents", spread=True).limit(30)
    out = str(tmp_path / "tp_export")
    write_jsonl(docs, out, shards=2, sort_col="doc_id")
    write_manifest(read_jsonl(spark, out, DOC_SCHEMA), out)
    assert verify_manifest(spark, out, DOC_SCHEMA) == []

    def boom(*a, **k):
        raise RuntimeError("text pass exploded")

    monkeypatch.setattr(fsutil, "fs_qualified_path", boom)
    problems = verify_manifest(spark, out, DOC_SCHEMA)
    assert len(problems) == 1
    assert problems[0]["problem"] == "text_pass_failed"
    assert "text pass exploded" in problems[0]["error"]


def test_manifest_digests_survive_session_timezone_change(spark, tmp_path):
    """r11 session-conf-drift review: manifest row digests render
    timestamps through to_json, which follows the SESSION timezone
    unless pinned — a manifest written under UTC must still verify
    from a session whose timezone changed (and vice versa), or the
    integrity gate false-alarms on every intact export."""
    from datetime import datetime

    from acled_spark.export import verify_manifest, write_manifest

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 5, 10, 30, 0), "alpha"),
            (2, datetime(2024, 6, 5, 23, 59, 59), "beta"),
        ],
        "id long, ts timestamp, note string",
    )
    out = str(tmp_path / "tz_export")
    write_jsonl(df, out, shards=1, sort_col="id", compression="none")
    schema = "id long, ts timestamp, note string"
    write_manifest(read_jsonl(spark, out, schema), out)
    assert verify_manifest(spark, out, schema) == []

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert verify_manifest(spark, out, schema) == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_row_digest_known_answer(spark):
    """M31 fixed gate (r13 mutation lens): the manifest row digest is
    pinned against an INDEPENDENT recompute — python hashlib over the
    exact JSON Spark renders — so any self-consistent change to the
    digest definition (hex window, base, digit count) fails here even
    though every write->verify round-trip stays green (the M8
    self-consistent-codec class, now in the export family)."""
    import hashlib

    from acled_spark.export import _DIGEST_HEX_DIGITS, row_digest_expr

    df = spark.createDataFrame([(1, "a"), (2, None)], "doc_id long, text string")
    got = {
        r["doc_id"]: int(r["d"])
        for r in df.select(
            "doc_id", row_digest_expr(df.columns).alias("d")
        ).collect()
    }
    # ignoreNullFields=true drops the NULL text key entirely
    expected_json = {1: '{"doc_id":1,"text":"a"}', 2: '{"doc_id":2}'}
    expected = {
        k: int(hashlib.md5(v.encode()).hexdigest()[:_DIGEST_HEX_DIGITS], 16)
        for k, v in expected_json.items()
    }
    assert got == expected
