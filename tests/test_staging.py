"""Session staging (``registry._common.staged``): every registered
artifact's staged rows equal its undecorated build, a hit never
rebuilds, and the key and session-root lifecycle hold."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from spark_ifs_spark.registry import _common
from spark_ifs_spark.registry import QUERIES  # noqa: F401  (registers every artifact)
from spark_ifs_spark.registry._common import STAGED_ARTIFACTS, _Staged


@pytest.fixture
def builds(monkeypatch):
    """Names passed to ``_note_staged_build``, in call order."""
    seen: list[str] = []
    monkeypatch.setattr(_common, "_note_staged_build", lambda name, s: seen.append(name))
    return seen


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_registered_artifacts():
    assert set(STAGED_ARTIFACTS) == {
        "user_stats_src", "hh_toks", "ov_voc", "bpe_merges",
        "maxsim_ranking", "bm25_ranking", "bigram_ll", "knn_edges",
        "part_pairs", "emb_lsh_pairs", "emb_lsh_hi_pairs", "shingles",
        "minhash_pairs", "prefix_pairs", "dup_clusters",
    }


@pytest.mark.parametrize("name", sorted(STAGED_ARTIFACTS))
def test_staged_matches_build_and_builds_once(spark, sf_dir, builds, name):
    art = STAGED_ARTIFACTS[name]
    art.reset()
    staged = art(spark, sf_dir)
    assert builds.count(name) == 1
    n = len(builds)
    again = art(spark, sf_dir)
    assert len(builds) == n  # a hit builds nothing, nested artifacts included
    got = _rows(staged)
    assert _rows(again) == got
    assert _rows(art.build(spark, sf_dir)) == got


def _toy(spark, tmp_path) -> tuple[_Staged, str]:
    """An unregistered artifact over ``<tmp>/t.parquet`` (never read)."""
    art = _Staged("toy", "t", lambda spark, sf_dir: spark.range(3))
    return art, str(tmp_path)


def test_forced_build_notes_name_and_rewrite_rebuilds(spark, tmp_path, builds):
    art, sf = _toy(spark, tmp_path)
    table = tmp_path / "t.parquet"
    table.write_bytes(b"v1")
    first = art.path(spark, sf)
    assert builds == ["toy"]
    assert art.path(spark, sf) == first and builds == ["toy"]
    assert sorted(r.id for r in art(spark, sf).collect()) == [0, 1, 2]

    table.write_bytes(b"v2-rewritten")
    second = art.path(spark, sf)
    assert builds == ["toy", "toy"]
    assert second != first and not os.path.exists(first)  # stale copy evicted
    art.reset()
    assert not os.path.exists(second)


def test_directory_table_member_rewrite_rebuilds(spark, tmp_path, builds):
    art, sf = _toy(spark, tmp_path)
    part = tmp_path / "t.parquet" / "k=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"aaaa")
    art.path(spark, sf)
    st = os.stat(part)
    part.write_bytes(b"bbbb")  # same size: only the member mtime moves
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    art.path(spark, sf)
    assert builds == ["toy", "toy"]
    art.reset()


def test_session_root_sweeps_dead_pids_only(tmp_path):
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    dead = tmp_path / f"sis_stage_{p.pid}_x"
    live = tmp_path / f"sis_stage_{os.getppid()}_x"
    other = tmp_path / "sis_other_1_x"
    for d in (dead, live, other):
        d.mkdir()
    _common._sweep_dead_roots(str(tmp_path))
    assert not dead.exists() and live.exists() and other.exists()

    root = _common._stage_root()
    assert os.path.dirname(root) == tempfile.gettempdir()
    assert os.path.basename(root).startswith(f"sis_stage_{os.getpid()}_")
