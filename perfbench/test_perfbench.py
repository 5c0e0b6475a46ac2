"""Tests for the benchmark's own logic: seeded streams, the percentile
rule and failure counting. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from itertools import islice

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))  # oracle_harness, as run.py does

from perfbench import checks, stats, streams, workloads  # noqa: E402

NS = streams.Namespace(tuple((d, f"src{d % 4}") for d in range(1000)))


# ---- seeded streams ----------------------------------------------------------


def first(stream, n: int) -> list:
    return list(islice(stream, n))


def test_same_seed_same_streams_and_other_seed_differs():
    assert first(streams.fs_meta_passes(7, NS), 4) == first(streams.fs_meta_passes(7, NS), 4)
    assert first(streams.fs_meta_passes(7, NS), 4) != first(streams.fs_meta_passes(8, NS), 4)
    assert first(streams.store_passes(7, NS), 3) == first(streams.store_passes(7, NS), 3)
    assert first(streams.store_passes(7, NS), 3) != first(streams.store_passes(8, NS), 3)


def test_every_fs_pass_has_the_fixed_mix_and_ten_percent_missing_paths():
    files, dirs = set(NS.files), set(NS.dirs)
    for calls in first(streams.fs_meta_passes(11, NS), 20):
        kinds = sorted(c.kind for c in calls)
        assert kinds == sorted(k for k, n in streams.FS_MIX for _ in range(n))
        missing = sorted(c.kind for c in calls if not c.exists)
        assert missing == sorted(streams.FS_MISSING_KINDS)
        assert len(missing) == len(calls) // 10
        for c in calls:
            assert (c.path in files or c.path in dirs) == c.exists
            if c.kind in streams.DIR_KINDS:
                assert c.path.startswith("/data/src") and c.path in dirs


def test_store_pass_reads_only_what_it_wrote():
    written = set(NS.files)
    for sp in first(streams.store_passes(5, NS), 10):
        paths = {streams.doc_path(d, f"src{d % 4}") for d in sp.doc_ids}
        assert len(sp.doc_ids) == streams.STORE_DOCS_PER_PASS
        assert set(sp.lookups) <= paths <= written
        assert all(any(p.startswith(pre) for p in paths) for pre in sp.listings)


# ---- percentiles ---------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile([float(i) for i in range(100)], 90) == 89.0
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([float(i) for i in range(99)], 90)
    assert stats.percentile([float(i) for i in range(20)], 50) == 9.0
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([float(i) for i in range(19)], 50)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0] * 5, 50)


# ---- failure counting --------------------------------------------------------------


@pytest.fixture
def fs_con(tmp_path):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'alpha beta', 'en', 'src0', 10), (1, '', 'en', 'src1', 0), "
        "(2, repeat('x', 300), 'en', 'src0', 300)) t(doc_id, text, lang, source, n_chars)"
    )
    con.execute(
        "CREATE TABLE nation AS SELECT i AS n_nationkey, 'host' || i AS n_name "
        "FROM range(25) r(i)"
    )
    for name in ("documents", "nation"):
        con.execute(f"COPY {name} TO '{tmp_path}/{name}.parquet' (FORMAT parquet)")
    con.close()
    return checks.duckdb_views(str(tmp_path), str(tmp_path))


def test_correct_results_pass_and_an_injected_wrong_one_fails(fs_con):
    tally = checks.Tally()
    stat = checks.fs_expected(fs_con, "stat", "/data/src0/doc_2.txt")
    assert len(stat) == 1 and stat["size"][0] == 300
    tally.record("stat", checks.fs_problems(stat, stat.copy()))
    wrong = stat.copy()
    wrong.loc[0, "size"] = 299
    tally.record("stat wrong size", checks.fs_problems(stat, wrong))
    assert (tally.attempted, tally.failed) == (2, 1)

    du = checks.fs_expected(fs_con, "du", "/data")
    assert sorted(du["child"]) == ["src0", "src1"]
    tally.record("du missing row", checks.fs_problems(du, du.iloc[:1]))
    assert tally.failed == 2


def test_open_checks_text_and_the_expected_exception(fs_con):
    text = checks.fs_expected(fs_con, "open", "/data/src0/doc_2.txt")
    assert text == "x" * 300
    assert checks.fs_expected(fs_con, "open", "/data/src1/doc_1.txt") == ""
    assert checks.fs_problems(text, text) == []
    assert checks.fs_problems(text, "x" * 299)
    missing = checks.fs_expected(fs_con, "open", "/data/src0/doc_9.txt")
    assert missing is FileNotFoundError
    assert checks.fs_problems(missing, FileNotFoundError("/data/src0/doc_9.txt")) == []
    assert checks.fs_problems(missing, "")
    assert checks.fs_expected(fs_con, "open", "/data/src0") is IsADirectoryError


def test_store_checks_catch_a_changed_byte_and_a_wrong_chunk():
    texts = {"/a": "é" * 70, "/b": ""}
    assert checks.text_problems(texts, dict(texts)) == []
    assert checks.text_problems(texts, {"/a": "é" * 69 + "e", "/b": ""})
    assert checks.text_problems(texts, {"/a": texts["/a"]})
    chunks = checks.expected_chunks("/a", texts["/a"])
    assert [(c[1], c[2]) for c in chunks] == [(0, 64), (64, 6)]
    assert checks.expected_chunks("/b", "") == [("/b", 0, 0, "")]
    assert checks.rows_problems(chunks, list(reversed(chunks))) == []
    assert checks.rows_problems(chunks, chunks[:1])


def test_pipeline_compare_flags_a_changed_value():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert checks.compare(want.iloc[::-1], want) == []
    assert checks.compare(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}), want)


# ---- isolation -----------------------------------------------------------------


def test_rehome_moves_the_shared_dir_and_refuses_a_function_without_it():
    def ingest_root():
        return "/shared/var/ingest"

    workloads.rehome(ingest_root, "/shared/var", "/run/var")
    assert ingest_root() == "/run/var/ingest"
    with pytest.raises(workloads.Unsupported):
        workloads.rehome(ingest_root, "/shared/var", "/run/var")
