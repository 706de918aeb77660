"""The one stats→blocks step (``index/build.py::stats_and_blocks``):
its stats timing covers the threaded term_stats write that overlaps the
blocks stage; a blocks write that fails mid-build leaves no cached
frame and no writer thread behind; and every rerun — after that
failure, or with the stats stage, the blocks stage or both dropped —
writes tables identical row for row, payload byte for payload byte, to
a clean build, without rewriting the stages that are still complete."""

import glob
import json
import os
import shutil
import threading
import time

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from mecab_ko_lucene_analyzer_spark.index import build_and_write
from mecab_ko_lucene_analyzer_spark.sources import synthesize_webpages

TABLES = ["partials", "term_stats", "doc_stats", "corpus_stats", "doc_map", "blocks"]
STAGE_TABLES = {
    "partials": ["partials", "doc_map"],
    "stats": ["term_stats", "doc_stats", "corpus_stats"],
    "blocks": ["blocks"],
}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    # a parquet scan: the docID passes re-read it instead of caching
    # it, so a frame still persisted after a build is the build's own
    src = str(tmp_path_factory.mktemp("pages") / "p")
    synthesize_webpages(spark, 600, partitions=4).write.parquet(src)
    return spark.read.parquet(src)


def _build(pages, base):
    build_and_write(pages, base, lang_filter="ko", hot_min_df=30)


@pytest.fixture(scope="module")
def clean(pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("clean") / "idx")
    _build(pages, base)
    return base


def _manifest(base):
    with open(f"{base}/manifest.json") as f:
        return json.load(f)


def _rows(spark, base, table):
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in spark.read.parquet(f"{base}/{table}").collect()
    )


def _assert_same_as_clean(spark, base, clean):
    for t in TABLES:
        got, want = _rows(spark, base, t), _rows(spark, clean, t)
        assert len(got) > 0 and got == want, t
    for st in ("partials", "stats", "blocks"):
        assert (
            _manifest(base)["stages"][st]["counters"]
            == _manifest(clean)["stages"][st]["counters"]
        ), st


def _mtimes(base, stages):
    return {
        p: os.path.getmtime(p)
        for st in stages
        for t in STAGE_TABLES[st]
        for p in glob.glob(f"{base}/{t}/*")
    }


def _on_parquet_write(monkeypatch, hook):
    """Run ``hook(path)`` before every DataFrame parquet write."""
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        hook(path)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_stats_seconds_cover_threaded_term_stats_write(
    spark, pages, tmp_path, monkeypatch
):
    """The term_stats write runs on a thread next to the doc_stats and
    blocks writes; the stats stage is not done until it commits, so
    its recorded seconds must include a slow term_stats write."""

    def slow_term_stats(path):
        if path.endswith("/term_stats"):
            time.sleep(3.0)

    _on_parquet_write(monkeypatch, slow_term_stats)
    base = str(tmp_path / "idx")
    _build(pages, base)
    stages = _manifest(base)["stages"]
    assert set(stages) == {"partials", "stats", "blocks"}
    assert stages["stats"]["seconds"] >= 3.0
    assert stages["blocks"]["counters"]["blocks_written"] > 0


def test_failed_blocks_write_releases_cache_and_thread(
    spark, pages, clean, tmp_path, monkeypatch
):
    """A blocks write that raises inside a fresh build must still join
    the term_stats writer thread (slowed so it is mid-write when the
    failure lands) and unpersist the cached term_stats frame; the
    stats and blocks stages stay unrecorded, and the rerun completes
    them without rewriting partials, identical to a clean build."""
    failed = []

    def fail_blocks_once(path):
        if path.endswith("/term_stats"):
            time.sleep(1.0)
        if path.endswith("/blocks") and not failed:
            failed.append(path)
            raise RuntimeError("planted blocks-write failure")

    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keys())
    _on_parquet_write(monkeypatch, fail_blocks_once)
    base = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="planted"):
        _build(pages, base)
    assert failed
    assert not [t for t in threading.enumerate() if t.name == "term_stats-write"]
    assert set(jsc.getPersistentRDDs().keys()) == persisted
    assert set(_manifest(base)["stages"]) == {"partials"}

    before = _mtimes(base, ["partials"])
    _build(pages, base)
    assert _mtimes(base, ["partials"]) == before
    _assert_same_as_clean(spark, base, clean)


@pytest.mark.parametrize(
    "dropped",
    [("stats",), ("blocks",), ("stats", "blocks")],
    ids=["stats", "blocks", "both"],
)
def test_dropped_stages_rerun_alone(spark, pages, clean, tmp_path, dropped):
    """Drop stage outputs + manifest entries from a copy of a clean
    build: the rerun runs exactly the dropped stages (blocks alone
    takes n_docs/avgdl from the stats counters), leaves the complete
    ones untouched, and ends identical to the clean build."""
    base = str(tmp_path / "idx")
    shutil.copytree(clean, base)
    with open(f"{base}/manifest.json") as f:
        m1 = json.loads(f.read().replace(clean, base))
    for st in dropped:
        del m1["stages"][st]
        for t in STAGE_TABLES[st]:
            shutil.rmtree(f"{base}/{t}")
    with open(f"{base}/manifest.json", "w") as f:
        json.dump(m1, f)
    kept = [st for st in STAGE_TABLES if st not in dropped]
    before = _mtimes(base, kept)

    _build(pages, base)
    assert _mtimes(base, kept) == before
    m2 = _manifest(base)
    assert set(m2["stages"]) == {"partials", "stats", "blocks"}
    for st in kept:
        assert m2["stages"][st] == m1["stages"][st], st
    _assert_same_as_clean(spark, base, clean)
