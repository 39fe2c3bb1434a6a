"""Streaming Count-Min maintenance (streaming/sketch.py): exact
batch ≡ stream parity (cell addition is the merge), replay absorption,
crash-window recovery (pointer-commit semantics), compaction
equivalence, parameter guard."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.sketch import (
    cms_index_estimate,
    compact_cms,
    read_cms,
    streaming_cms,
)

PARAMS = dict(depth=3, width=32, seed=7)
PROBES = ["hot", "warm", "w5", "zz_absent"]


def _df(spark, lo, hi):
    rows = []
    for i in range(lo, hi):
        rows.append((i, "hot" if i % 2 == 0 else f"w{i % 11}"))
        if i % 5 == 0:
            rows.append((i, "warm"))
    return spark.createDataFrame(rows, "row_id long, w string")


def _run(spark, src, store, ckpt, schema, **kw):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_cms(stream, "w", str(store), str(ckpt), **(PARAMS | kw))
    q.awaitTermination(120)
    q.stop()


def _grid(spark, store):
    return {
        (r["r"], r["bucket"]): r["c"]
        for r in read_cms(spark, str(store)).collect()
    }


def _feed_all(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "cms"
    b1, b2 = _df(spark, 0, 60), _df(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_grid_matches_batch_computation(spark, tmp_path):
    """EXACT equality with the one-shot cms_build over the concatenated
    stream — cell addition is the merge, so the same integers come
    out, and the point estimates agree cell-for-cell."""
    from spark_ifs_spark.operators.sketches import cms_build, cms_estimate

    _, store, all_rows = _feed_all(spark, tmp_path)
    want = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_build(all_rows, "w", **PARAMS).collect()
    }
    assert _grid(spark, store) == want
    got_est = {
        r["term"]: r["est"]
        for r in cms_index_estimate(spark, str(store), PROBES).collect()
    }
    want_est = {
        r["term"]: r["est"]
        for r in cms_estimate(
            cms_build(all_rows, "w", **PARAMS), PROBES, **PARAMS
        ).collect()
    }
    assert got_est == want_est
    # the maintained sketch still never undercounts the true frequency
    true_hot = all_rows.where(F.col("w") == "hot").count()
    assert got_est["hot"] >= true_hot


def test_replay_identical_feed_absorbed(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    before = _grid(spark, store)
    _run(spark, src, store, tmp_path / "ck_replay", _df(spark, 0, 1).schema)
    assert _grid(spark, store) == before


def test_lost_pointer_update_recovered_idempotently(spark, tmp_path):
    """Crash window: batch 1's cells written but pointer commit lost —
    orphans invisible to readers; replay from the pre-crash checkpoint
    rewrites the same bytes and restores the watermark."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "cms"
    b1, b2 = _df(spark, 0, 60), _df(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _grid(spark, store)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0
    json.dump(state, open(p, "w"))
    assert _grid(spark, store) != before  # batch 1 invisible
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _grid(spark, store) == before
    assert json.load(open(p))["last_batch_id"] == 1


def test_compaction_is_answer_preserving(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    before = _grid(spark, store)
    compact_cms(spark, str(store))
    assert _grid(spark, store) == before
    vdirs = [d for d in os.listdir(store) if d.startswith("cms-v")]
    assert vdirs == ["cms-v1"]
    # later appends (same checkpoint — batch ids continue past the
    # compacted watermark) keep folding onto the compacted base
    b3 = _df(spark, 100, 120)
    b3.write.parquet(str(src / "f3.parquet"))
    _run(spark, src, store, store.parent / "ck", b3.schema)
    from spark_ifs_spark.operators.sketches import cms_build

    all_rows = _df(spark, 0, 100).unionByName(b3)
    want = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_build(all_rows, "w", **PARAMS).collect()
    }
    assert _grid(spark, store) == want


def test_parameter_mismatch_is_a_hard_error(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, store, _ = _feed_all(spark, tmp_path)
    src2 = store.parent / "feed_bad"
    _df(spark, 100, 105).write.parquet(str(src2 / "f.parquet"))
    stream = spark.readStream.schema(_df(spark, 0, 1).schema).parquet(
        str(src2) + "/*"
    )
    q = streaming_cms(
        stream, "w", str(store), str(tmp_path / "ck_bad"),
        **(PARAMS | {"width": 64}),
    )
    with pytest.raises(StreamingQueryException, match="was built with"):
        q.awaitTermination(120)


def test_heavy_cells_from_maintained_grid(spark, tmp_path):
    """The index-served hot-cell shortlist equals the batch operator's
    hot set on the concatenated stream, and recovers the exact stream
    length from the grid (each depth row sums to N)."""
    from spark_ifs_spark.operators.sketches import cms_build
    from spark_ifs_spark.streaming.sketch import cms_index_heavy_cells

    _, store, all_rows = _feed_all(spark, tmp_path)
    n = all_rows.count()
    phi = 200_000  # 20% — 'hot' is ~half the stream, w* keys are not
    got = {
        (r["r"], r["bucket"]): (r["c"], r["n_total"])
        for r in cms_index_heavy_cells(spark, str(store), phi).collect()
    }
    assert got, "expected at least the 'hot' cells to clear 20%"
    thresh = -(-n * phi // 1_000_000)
    want = {
        (r["r"], r["bucket"]): (r["c"], n)
        for r in cms_build(all_rows, "w", **PARAMS).collect()
        if r["c"] >= thresh
    }
    assert got == want


# -- streaming rank sketch (bottom-k-by-hash) ---------------------------------

RK = 32


def _vdf(spark, lo, hi):
    return spark.createDataFrame(
        [(i, (i * 37) % 211) for i in range(lo, hi)], "doc_id long, v long"
    )


def _run_rks(spark, src, store, ckpt, schema, k=RK):
    from spark_ifs_spark.streaming.sketch import streaming_rank_sketch

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_rank_sketch(
        stream, "doc_id", "v", str(store), str(ckpt), k=k
    )
    q.awaitTermination(120)
    q.stop()


def _rks_rows(spark, store):
    from spark_ifs_spark.streaming.sketch import read_rank_sketch

    return sorted(map(tuple, read_rank_sketch(spark, str(store)).collect()))


def _feed_rks(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "rks"
    b1, b2 = _vdf(spark, 0, 60), _vdf(spark, 60, 150)
    b1.write.parquet(str(src / "f1.parquet"))
    _run_rks(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run_rks(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_rank_sketch_matches_batch(spark, tmp_path):
    """EXACT equality with the one-shot rank_sketch over the
    concatenated stream (the KMV merge law), and the served quantiles
    equal the batch operator's."""
    from spark_ifs_spark.operators.sketches import (
        rank_sketch,
        rank_sketch_quantiles,
    )
    from spark_ifs_spark.streaming.sketch import rank_sketch_index_quantiles

    _, store, all_rows = _feed_rks(spark, tmp_path)
    want = sorted(
        map(tuple, rank_sketch(all_rows, "doc_id", "v", k=RK).collect())
    )
    got = _rks_rows(spark, store)
    assert got == want
    assert len(got) == RK
    served = sorted(
        map(
            tuple,
            rank_sketch_index_quantiles(spark, str(store), (25, 50, 99)).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            rank_sketch_quantiles(
                rank_sketch(all_rows, "doc_id", "v", k=RK), (25, 50, 99)
            ).collect(),
        )
    )
    assert served == batch


def test_rank_sketch_replay_absorbed(spark, tmp_path):
    src, store, _ = _feed_rks(spark, tmp_path)
    before = _rks_rows(spark, store)
    _run_rks(spark, src, store, tmp_path / "ck_replay", _vdf(spark, 0, 1).schema)
    assert _rks_rows(spark, store) == before


def test_rank_sketch_crash_window_recovered(spark, tmp_path):
    """Pointer lost after batch 1's rows were written: the orphan is
    invisible; replay from the pre-crash checkpoint restores it."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "rks"
    b1, b2 = _vdf(spark, 0, 60), _vdf(spark, 60, 150)
    b1.write.parquet(str(src / "f1.parquet"))
    _run_rks(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run_rks(spark, src, store, tmp_path / "ck", b1.schema)
    before = _rks_rows(spark, store)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0
    json.dump(state, open(p, "w"))
    assert _rks_rows(spark, store) != before  # batch 1 pruned by watermark
    _run_rks(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _rks_rows(spark, store) == before
    assert json.load(open(p))["last_batch_id"] == 1


def test_rank_sketch_compaction_preserving(spark, tmp_path):
    from spark_ifs_spark.operators.sketches import rank_sketch
    from spark_ifs_spark.streaming.sketch import compact_rank_sketch

    src, store, _ = _feed_rks(spark, tmp_path)
    before = _rks_rows(spark, store)
    compact_rank_sketch(spark, str(store))
    assert _rks_rows(spark, store) == before
    vdirs = [d for d in os.listdir(store) if d.startswith("rks-v")]
    assert vdirs == ["rks-v1"]
    b3 = _vdf(spark, 150, 200)
    b3.write.parquet(str(src / "f3.parquet"))
    _run_rks(spark, src, store, store.parent / "ck", b3.schema)
    all_rows = _vdf(spark, 0, 150).unionByName(b3)
    want = sorted(
        map(tuple, rank_sketch(all_rows, "doc_id", "v", k=RK).collect())
    )
    assert _rks_rows(spark, store) == want


def test_rank_sketch_k_mismatch_is_hard_error(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from spark_ifs_spark.streaming.sketch import streaming_rank_sketch

    src, store, _ = _feed_rks(spark, tmp_path)
    src2 = store.parent / "feed_bad"
    _vdf(spark, 200, 205).write.parquet(str(src2 / "f.parquet"))
    stream = spark.readStream.schema(_vdf(spark, 0, 1).schema).parquet(
        str(src2) + "/*"
    )
    q = streaming_rank_sketch(
        stream, "doc_id", "v", str(store), str(tmp_path / "ck_bad"), k=RK + 1
    )
    with pytest.raises(StreamingQueryException, match="was built with"):
        q.awaitTermination(120)


# -- streaming Misra-Gries maintenance ----------------------------------------

MGK = 16


def _run_mg(spark, src, store, ckpt, schema, k=MGK):
    from spark_ifs_spark.streaming.sketch import streaming_mg

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_mg(stream, "w", str(store), str(ckpt), k=k)
    q.awaitTermination(120)
    q.stop()


def _mg_counters(spark, store):
    from spark_ifs_spark.streaming.sketch import read_mg

    return {r["term"]: r["c_low"] for r in read_mg(spark, str(store)).collect()}


def _feed_mg(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "mg"
    b1, b2 = _df(spark, 0, 60), _df(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run_mg(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run_mg(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_mg_obeys_undercount_law(spark, tmp_path):
    """Batch ≡ stream parity for MG is the LAW, not row equality (the
    summary is not a pure function of the multiset): the folded read
    obeys c(x) − n/(k+1) ≤ c_low(x) ≤ c(x) on the concatenated stream,
    and the pointer's n_rows is the exact stream length."""
    from spark_ifs_spark.streaming._pointer import _read_state

    _, store, all_rows = _feed_mg(spark, tmp_path)
    n = all_rows.count()
    exact = {
        r["w"]: r["cnt"]
        for r in all_rows.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    got = _mg_counters(spark, store)
    slack = -(-n // (MGK + 1))
    for term, c_low in got.items():
        assert c_low <= exact[term]
    # the dominant key survives above its lower bound
    assert got.get("hot", 0) >= exact["hot"] - slack
    assert _read_state(str(store))["n_rows"] == n


def test_mg_index_candidates_no_false_negatives(spark, tmp_path):
    from spark_ifs_spark.streaming.sketch import mg_index_candidates

    _, store, all_rows = _feed_mg(spark, tmp_path)
    n = all_rows.count()
    exact = {
        r["w"]: r["cnt"]
        for r in all_rows.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    phi = 200_000  # 'hot' is ~half the stream
    heavy = {t for t, c in exact.items() if c * 1_000_000 >= n * phi}
    assert heavy
    shortlist = {
        r["term"] for r in mg_index_candidates(spark, str(store), phi).collect()
    }
    assert heavy <= shortlist


def test_mg_replay_absorbed_and_n_not_double_counted(spark, tmp_path):
    from spark_ifs_spark.streaming._pointer import _read_state

    src, store, all_rows = _feed_mg(spark, tmp_path)
    before = _mg_counters(spark, store)
    n_before = _read_state(str(store))["n_rows"]
    _run_mg(spark, src, store, store.parent / "ck_replay", _df(spark, 0, 1).schema)
    assert _mg_counters(spark, store) == before
    assert _read_state(str(store))["n_rows"] == n_before == all_rows.count()


def test_mg_compaction_preserves_the_law(spark, tmp_path):
    """Compaction folds to ≤ k counters and spends more deficit budget
    but keeps every key's counter a valid lower bound with total slack
    ≤ n/(k+1) for the dominant keys."""
    from spark_ifs_spark.streaming.sketch import compact_mg

    src, store, all_rows = _feed_mg(spark, tmp_path)
    n = all_rows.count()
    exact = {
        r["w"]: r["cnt"]
        for r in all_rows.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    compact_mg(spark, str(store))
    got = _mg_counters(spark, store)
    assert len(got) <= MGK
    slack = -(-n // (MGK + 1))
    for term, c_low in got.items():
        assert c_low <= exact[term]
    assert got.get("hot", 0) >= exact["hot"] - slack
    vdirs = [d for d in os.listdir(store) if d.startswith("mg-v")]
    assert vdirs == ["mg-v1"]
    # appends keep folding onto the compacted base, law intact
    b3 = _df(spark, 100, 140)
    b3.write.parquet(str(src / "f3.parquet"))
    _run_mg(spark, src, store, store.parent / "ck", b3.schema)
    all2 = all_rows.unionByName(b3)
    n2 = all2.count()
    exact2 = {
        r["w"]: r["cnt"]
        for r in all2.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    got2 = _mg_counters(spark, store)
    for term, c_low in got2.items():
        assert c_low <= exact2[term]
    assert got2.get("hot", 0) >= exact2["hot"] - (-(-n2 // (MGK + 1)))


def test_mg_k_mismatch_is_hard_error(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from spark_ifs_spark.streaming.sketch import streaming_mg

    src, store, _ = _feed_mg(spark, tmp_path)
    src2 = store.parent / "feed_bad"
    _df(spark, 100, 105).write.parquet(str(src2 / "f.parquet"))
    stream = spark.readStream.schema(_df(spark, 0, 1).schema).parquet(
        str(src2) + "/*"
    )
    q = streaming_mg(stream, "w", str(store), str(tmp_path / "ck_bad"), k=MGK + 1)
    with pytest.raises(StreamingQueryException, match="was built with"):
        q.awaitTermination(120)


# -- streaming HLL maintenance ------------------------------------------------

HP = 6


def _udf(spark, lo, hi):
    # (event_type, user_id): 'view' users keep arriving fresh (so later
    # batches genuinely move the register file), 'click' users repeat
    # (exercising bucket-max idempotence)
    rows = []
    for i in range(lo, hi):
        rows.append(("view", i))
        if i % 3 == 0:
            rows.append(("click", i % 11))
    return spark.createDataFrame(rows, "event_type string, user_id long")


def _run_hll(spark, src, store, ckpt, schema, p=HP):
    from spark_ifs_spark.streaming.sketch import streaming_hll

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_hll(
        stream, ["event_type"], "user_id", str(store), str(ckpt), p=p
    )
    q.awaitTermination(120)
    q.stop()


def _hll_regs(spark, store):
    from spark_ifs_spark.streaming.sketch import read_hll_registers

    return sorted(
        map(tuple, read_hll_registers(spark, str(store)).collect())
    )


def _feed_hll(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "hll"
    b1, b2 = _udf(spark, 0, 60), _udf(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run_hll(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run_hll(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_hll_matches_batch_registers_and_estimate(spark, tmp_path):
    """EXACT register-file equality with the one-shot hll_registers
    over the concatenated stream (bucket-max is the merge), and the
    served estimates equal the batch operator's to the bit."""
    from spark_ifs_spark.operators.sketches import hll_distinct, hll_registers
    from spark_ifs_spark.streaming.sketch import hll_index_estimate

    _, store, all_rows = _feed_hll(spark, tmp_path)
    want = sorted(
        map(
            tuple,
            hll_registers(all_rows, ["event_type"], "user_id", p=HP).collect(),
        )
    )
    assert _hll_regs(spark, store) == want
    served = sorted(
        map(tuple, hll_index_estimate(spark, str(store)).collect())
    )
    batch = sorted(
        map(
            tuple,
            hll_distinct(all_rows, ["event_type"], "user_id", p=HP).collect(),
        )
    )
    assert served == batch


def test_hll_replay_absorbed_and_idempotent(spark, tmp_path):
    src, store, _ = _feed_hll(spark, tmp_path)
    before = _hll_regs(spark, store)
    _run_hll(spark, src, store, store.parent / "ck_replay", _udf(spark, 0, 1).schema)
    assert _hll_regs(spark, store) == before


def test_hll_crash_window_recovered(spark, tmp_path):
    import shutil

    src, store = tmp_path / "feed", tmp_path / "hll"
    b1, b2 = _udf(spark, 0, 60), _udf(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run_hll(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run_hll(spark, src, store, tmp_path / "ck", b1.schema)
    before = _hll_regs(spark, store)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    state["last_batch_id"] = 0
    json.dump(state, open(p, "w"))
    assert _hll_regs(spark, store) != before
    _run_hll(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _hll_regs(spark, store) == before


def test_hll_compaction_preserving(spark, tmp_path):
    from spark_ifs_spark.operators.sketches import hll_registers
    from spark_ifs_spark.streaming.sketch import compact_hll

    src, store, _ = _feed_hll(spark, tmp_path)
    before = _hll_regs(spark, store)
    compact_hll(spark, str(store))
    assert _hll_regs(spark, store) == before
    vdirs = [d for d in os.listdir(store) if d.startswith("hll-v")]
    assert vdirs == ["hll-v1"]
    b3 = _udf(spark, 100, 140)
    b3.write.parquet(str(src / "f3.parquet"))
    _run_hll(spark, src, store, store.parent / "ck", b3.schema)
    all_rows = _udf(spark, 0, 100).unionByName(b3)
    want = sorted(
        map(
            tuple,
            hll_registers(all_rows, ["event_type"], "user_id", p=HP).collect(),
        )
    )
    assert _hll_regs(spark, store) == want


def test_hll_param_mismatch_is_hard_error(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from spark_ifs_spark.streaming.sketch import streaming_hll

    src, store, _ = _feed_hll(spark, tmp_path)
    src2 = store.parent / "feed_bad"
    _udf(spark, 200, 205).write.parquet(str(src2 / "f.parquet"))
    stream = spark.readStream.schema(_udf(spark, 0, 1).schema).parquet(
        str(src2) + "/*"
    )
    q = streaming_hll(
        stream, ["event_type"], "user_id", str(store),
        str(tmp_path / "ck_bad"), p=HP + 1,
    )
    with pytest.raises(StreamingQueryException, match="was built with"):
        q.awaitTermination(120)
