"""The benchmark's workloads.

A workload generates and materializes its inputs in ``setup`` (which
ends with one untimed warm-up operation), yields the fixed operation
list of one pass from ``ops``, and checks every recorded result in
``check``, outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: An in-core fit+transform runs at most 7 Spark jobs; a distributed
#: selection runs about 5 per greedy round (about 25 at k=3, 50-60
#: at k=10). The gate guard reads the strategy off this count.
INCORE_MAX_JOBS = 15
#: in-core fits per matrix and encoding in one pass. With one, the
#: pass's median operation was its slowest in-core fit (B.conv), whose
#: time doubled under co-tenant load; with two, it is a typical one.
INCORE_ROUNDS = 2


# -- IFS selection workloads -------------------------------------------


@dataclass(frozen=True)
class Matrix:
    name: str
    rows: int  # instances
    feats: int
    levels: int  # categories per feature and of the label
    k: int  # features to select
    incore: bool  # the side of the selectors' in-core cell gate it sits on


class IfsWorkload:
    """Greedy mRMR fit+transform through ``ml.FeatureSelector``
    (conventional encoding) and ``ml.RowSelector`` (alternate encoding)
    on the same seeded categorical matrices."""

    def __init__(self, matrices: list[Matrix]):
        self.matrices = matrices
        self.builds: list[tuple[str, float, float]] = []  # no staged artifacts

    def setup(self, spark, tracer, seed: int, work: str) -> dict:
        from pyspark.sql import functions as F

        from spark_ifs_spark.ml import FeatureSelector, RowSelector

        self.spark, self.tracer, self.F = spark, tracer, F
        self.FeatureSelector, self.RowSelector = FeatureSelector, RowSelector
        self.data = {}
        gen_s = 0.0
        for i, m in enumerate(self.matrices):
            t0 = time.perf_counter()
            gen, names = self._generate(m, seed, i)
            pdf = gen.toPandas()
            gen_s += time.perf_counter() - t0
            X, y = pdf[names].to_numpy(dtype=np.int64), pdf["label"].to_numpy(dtype=np.int64)
            # the conventional frame is built in Spark from the same
            # materialized rows: a pandas column of 130k arrays takes
            # seconds to convert
            conv = gen.select(
                F.col("label").cast("bigint"), F.array(*names).cast("array<bigint>").alias("features")
            )
            alt = spark.createDataFrame(
                pd.DataFrame({"id": np.arange(m.feats), "features": list(np.ascontiguousarray(X.T))})
            )
            self.data[m.name] = dict(
                X=X, y=y, labels=y.tolist(),
                conv=conv.localCheckpoint(eager=True),
                alt=alt.localCheckpoint(eager=True),
            )
        # warm-up: one-round fits in both encodings of the first matrix
        d = self.data[self.matrices[0].name]
        self._conv(d["conv"], k=1)
        self._alt(d["alt"], d["labels"], k=1)
        return {"gen_s": gen_s, "gen_cells": sum(m.rows * (m.feats + 1) for m in self.matrices)}

    def _generate(self, m: Matrix, seed: int, i: int):
        """``sources.generator.random_conventional_df`` plus k planted
        label-correlated features (FIXTURES.md §1 style: the label with
        graded flip rates), so that signal, not float near-ties, decides
        the greedy order. Materialized once, so that the rows collected
        for the oracle are the rows the selectors read."""
        from spark_ifs_spark.sources.generator import random_conventional_df

        F = self.F
        gseed = seed * 1000 + i * 500  # column seeds gseed..gseed+feats never overlap
        df, names = random_conventional_df(self.spark, m.rows, m.feats + 1, gseed, num_levels=m.levels)
        rng = np.random.default_rng([seed, i])
        planted = dict(zip(rng.choice(m.feats, size=m.k, replace=False).tolist(),
                           np.linspace(0.9, 0.45, m.k).tolist()))
        cols = [F.col("label")]
        for j, name in enumerate(names):
            c = F.col(name)
            if j in planted:
                c = F.when(F.rand(gseed + 100_000 + j) < planted[j], F.col("label")).otherwise(c)
            cols.append(c.alias(name))
        return df.select(*cols).localCheckpoint(eager=True), names

    def _conv(self, conv, k: int):
        F = self.F
        with self.tracer.layer("ml.fit"):
            model = self.FeatureSelector(numTopFeatures=k, outputCol="selected").fit(conv)
        with self.tracer.layer("ml.transform"):
            out = model.transform(conv)
            total = out.agg(F.sum(F.aggregate("selected", F.lit(0.0), lambda a, x: a + x))).first()[0]
        return model.getSelectedFeatures(), total

    def _alt(self, alt, labels: list[int], k: int):
        F = self.F
        with self.tracer.layer("ml.fit"):
            model = self.RowSelector(numTopRows=k, labelVector=labels, outputCol="selected").fit(alt)
        with self.tracer.layer("ml.transform"):
            out = model.transform(alt)
            total = out.agg(F.sum(F.when(F.col("selected"), F.col("id")).otherwise(0))).first()[0]
        return model.getSelectedRows(), total

    def prepare_pass(self, pass_no: int) -> None:
        pass

    def ops(self):
        rounds = [(r, m) for r in range(INCORE_ROUNDS) for m in self.matrices if m.incore]
        for r, m in rounds + [(0, m) for m in self.matrices if not m.incore]:
            d, tag = self.data[m.name], f".{r + 1}" if r else ""
            yield f"{m.name}.conv{tag}", lambda d=d, k=m.k: self._conv(d["conv"], k)
            yield f"{m.name}.alt{tag}", lambda d=d, k=m.k: self._alt(d["alt"], d["labels"], k)

    def oracle(self, name: str) -> list[int]:
        """Selection order from the numpy oracle ``tests/oracle_mrmr.py``,
        once per matrix. Its pairwise ``mi`` is memoized per (candidate,
        selected) column pair for the duration of the call: the oracle
        recomputes every pair each round, and the memo changes no
        arithmetic."""
        d = self.data[name]
        if "oracle" not in d:
            sys.path.insert(0, os.path.join(ROOT, "tests"))
            import oracle_mrmr

            X = np.asfortranarray(d["X"])  # each column a contiguous view
            memo, mi = {}, oracle_mrmr.mi

            def cached(a, b):
                key = (a.ctypes.data, b.ctypes.data)
                if key not in memo:
                    memo[key] = mi(a, b)
                return memo[key]

            m = next(m for m in self.matrices if m.name == name)
            oracle_mrmr.mi = cached
            try:
                d["oracle"] = [j for j, _ in oracle_mrmr.greedy_mrmr(X, d["y"], m.k)]
            finally:
                oracle_mrmr.mi = mi
        return d["oracle"]

    def op_counters(self, rec) -> dict:
        return {}

    def check(self, rec) -> str | None:
        name, enc = rec.name.split(".")[:2]
        incore = rec.jobs <= INCORE_MAX_JOBS
        if incore != next(m for m in self.matrices if m.name == name).incore:
            return f"ran {'in-core' if incore else 'distributed'} ({rec.jobs} jobs)"
        sel, total = rec.result
        want = self.oracle(name)
        if list(sel) != want:
            return f"selection {list(sel)} != oracle {want}"
        X = self.data[name]["X"]
        expect = float(X[:, sorted(sel)].sum()) if enc == "conv" else float(sum(sel))
        if total != expect:
            return f"transform checksum {total} != {expect}"
        return None


# -- registry mix --------------------------------------------------------

#: queries that read a session-staged artifact (built by the first one)
STAGED_CONSUMERS = [
    "knn_graph", "knn_label_prop", "facility_select_k5", "graph_diversity_select_k5",
    "dedup_minhash", "dup_clusters", "dedup_jaccard_prefix", "maxsim_topk",
]
PLAIN_QUERIES = [
    "lineitem_pricing", "nation_revenue", "shipping_priority", "events_daily",
    "events_sessionize", "text_token_counts", "tfidf_top3", "dedup_exact",
    "ann_topk", "bm25_topk", "coverage_select_k5",
]
MIX = STAGED_CONSUMERS + PLAIN_QUERIES
#: plain scan/join query outside the mix: the warm-up
WARM_UP_QUERY = "priority_orders"
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "registry_digests.json")


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    return str(v)


def digest(df: pd.DataFrame) -> dict:
    """Order-insensitive row digest: the value canonicalization of the
    oracle gate in ``tests/test_entry_oracle.py`` (columns by name,
    canonical cell strings, rows sorted), hashed."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return {"rows": len(rows), "columns": cols, "sha256": h.hexdigest()}


def record_staged_builds() -> list[tuple[str, float, float]]:
    """Wrap the registry's staged-build hook so that each build is also
    recorded as ``(artifact, start, end)`` on the ``perf_counter`` clock.

    The hook reports a build's seconds when it ends; builds nest (the
    ``dup_clusters`` build runs the ``minhash_pairs`` build, which runs
    the ``shingles`` build), so the engine's per-artifact seconds
    overlap and their sum overstates the wall time spent building."""
    from spark_ifs_spark.registry import _common

    builds: list[tuple[str, float, float]] = []
    orig = _common._note_staged_build

    def note(name: str, seconds: float) -> None:
        end = time.perf_counter()
        builds.append((name, end - seconds, end))
        orig(name, seconds)

    for mod in list(sys.modules.values()):
        if mod and mod.__name__.startswith(_common.__package__) and getattr(mod, "_note_staged_build", None) is orig:
            mod._note_staged_build = note
    return builds


class RegistryMix:
    """One pass over :data:`MIX`: the plain queries in a fixed order,
    then the staged-artifact consumers in an order permuted by the seed,
    which decides the consumer that pays each build. Fixing the plain
    queries' order puts the JVM's first-use code generation on the same
    queries in every run. Each pass reads its own copy of the fixed
    tables: session staging keys on the table directory, so every pass
    pays the staged builds it triggers, as a fresh session would."""

    def setup(self, spark, tracer, seed: int, work: str) -> dict:
        from spark_ifs_spark.registry import QUERIES

        self.spark, self.tracer, self.work = spark, tracer, work
        self.queries = QUERIES
        self.builds = record_staged_builds()
        consumers = list(STAGED_CONSUMERS)
        random.Random(seed).shuffle(consumers)
        self.order = PLAIN_QUERIES + consumers
        with open(DIGESTS) as f:
            self.digests = json.load(f)
        warm = os.path.join(work, "sf", "warm")
        shutil.copytree(DATA_DIR, warm)
        QUERIES[WARM_UP_QUERY](spark, warm).toPandas()
        return {"gen_s": 0.0, "gen_cells": 0}

    def prepare_pass(self, pass_no: int) -> None:
        self.sf = os.path.join(self.work, "sf", f"p{pass_no}")
        shutil.copytree(DATA_DIR, self.sf)

    def _query(self, name: str, sf: str):
        with self.tracer.layer("registry.construct"):
            df = self.queries[name](self.spark, sf)
        with self.tracer.layer("registry.exec"):
            return df.toPandas()

    def ops(self):
        for name in self.order:
            yield name, lambda name=name, sf=self.sf: self._query(name, sf)

    def op_counters(self, rec) -> dict:
        """Per-query layer counters for the traced run."""
        rows = len(rec.result) if rec.error is None else 0
        return {"registry.rows_out": rows, f"registry.{rec.name}.s": rec.seconds}

    def check(self, rec) -> str | None:
        got = digest(rec.result)
        want = self.digests[rec.name]
        return None if got == want else f"digest {got} != oracle {want}"


WORKLOADS = {
    "ifs": lambda: IfsWorkload([
        # in-core: 5x under both cell gates (rows x (feats+1) and
        # feats x rows, 5M cells each)
        Matrix("A", 20_000, 50, 10, 10, incore=True),
        Matrix("B", 5_000, 100, 100, 10, incore=True),
        # distributed: 1.3x past both gates
        Matrix("C", 130_000, 50, 10, 3, incore=False),
    ]),
    "registry_mix": RegistryMix,
}
