"""Shared imports, tuning constants, and private helpers for the
registry package (split mechanically from the original single-file
registry; see __init__.py for the domain layout and dict build)."""

from __future__ import annotations
import atexit
import functools
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from spark_ifs_spark.functions.hashing import (
    MINHASH_P,
    minhash_params,
    sql_band_power,
    sql_md5_int60,
    sql_universal_hash,
)
from spark_ifs_spark.functions.mi import mi_from_joint_counts
from spark_ifs_spark.operators import dedup, similarity, textstats
from spark_ifs_spark.operators.melt import melt_array
from spark_ifs_spark.operators.select_columns import select_columns
from spark_ifs_spark.operators.select_rows import select_rows
from spark_ifs_spark.operators.multimodal import (
    attach_fake_payloads,
    attach_jpeg_payloads,
    attach_mulaw_payloads,
    attach_png_payloads,
    extract_image_features,
    extract_jpeg_features,
    extract_mulaw_features,
    extract_png_features,
    fake_frame_splitter,
    fake_image_decoder,
    sample_frames,
)
from spark_ifs_spark.streaming.events import sessionize, windowed_event_counts
QUANT_SCALE = 8          # floor(x * 8) — exact in IEEE-754
MRMR_DIMS = 16           # feature subset for the greedy-selection queries
MRMR_K = 5
EMB_DIMS = 64
NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
NGRAM_MAX_DF = 1000
MINHASH_HASHES = 16
MINHASH_ROWS_PER_BAND = 2
SIMHASH_BITS = 60
ANN_K = 10
TOP_PAIRS_K = 20
#: leave-one-out kNN embedding-quality probe (knn_label_accuracy)
KNN_K = 5
IVF_CENTROIDS = 16
IVF_PROBE = 4
EMB_DEDUP_THRESHOLD = 0.4
ANN_LSH_PLANES = 6
ANN_LSH_SEED = 42
EMB_LSH_PLANES = 6
EMB_LSH_TABLES = 40
EMB_LSH_SEED = 31337
PROJ_DIMS = 8
PROJ_SEED = 7
SAMPLE_N = 100
SAMPLE_SEED = 13
#: builder-name -> wall-clock seconds spent inside the build branch of a
#: session-staging helper (_minhash_pairs, _knn_edges, _bigram_ll, ...).
#: The bench's min-of-2 protocol discards rep 1 — exactly where the
#: one-time staged build is paid — so bench.py reads this dict after the
#: run and charges the builds explicitly as ``staged_builds_sec``
#: (r13 verdict, "What's wrong" #1). Measurement accounting only; the
#: staging semantics are unchanged.
STAGED_BUILD_SECS: dict[str, float] = {}


def _note_staged_build(name: str, seconds: float) -> None:
    STAGED_BUILD_SECS[name] = round(
        STAGED_BUILD_SECS.get(name, 0.0) + seconds, 3
    )


def _fingerprint(path: str) -> tuple[int, int]:
    """``(mtime_ns, size)`` of a table: a file's own, or for a directory
    dataset the max mtime over the tree and the total file size, so an
    in-place rewrite of one part file changes it."""
    st = os.stat(path)  # a missing table raises here, as getmtime did
    if not os.path.isdir(path):
        return st.st_mtime_ns, st.st_size
    mtime = size = 0
    for root, _, files in os.walk(path):
        mtime = max(mtime, os.stat(root).st_mtime_ns)
        for f in files:
            st = os.stat(os.path.join(root, f))
            mtime, size = max(mtime, st.st_mtime_ns), size + st.st_size
    return mtime, size


_STAGE_PREFIX = "sis_stage_"
_STAGE_ROOT: str | None = None
#: artifact name -> its session-staged builder (see :func:`staged`)
STAGED_ARTIFACTS: dict[str, _Staged] = {}


def _sweep_dead_roots(parent: str) -> None:
    """Remove the session roots under ``parent`` whose process is gone:
    a killed run never reaches its ``atexit`` hook."""
    for entry in os.listdir(parent):
        if not entry.startswith(_STAGE_PREFIX):
            continue
        pid = entry[len(_STAGE_PREFIX):].split("_", 1)[0]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def _stage_root() -> str:
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        parent = tempfile.gettempdir()
        _sweep_dead_roots(parent)
        _STAGE_ROOT = tempfile.mkdtemp(
            prefix=f"{_STAGE_PREFIX}{os.getpid()}_", dir=parent
        )
    return _STAGE_ROOT


@atexit.register
def _remove_stage_root() -> None:
    if _STAGE_ROOT is not None:
        shutil.rmtree(_STAGE_ROOT, ignore_errors=True)


class _Staged:
    """A registry relation built once per (corpus, session) and served
    from parquet; see :func:`staged`."""

    def __init__(self, name: str, table: str, build: Callable) -> None:
        functools.update_wrapper(self, build)
        self.name, self.table, self.build = name, table, build
        self._dirs: dict[tuple[str, tuple[int, int]], str] = {}

    def path(self, spark: SparkSession, sf_dir: str) -> str:
        """The staged parquet directory, built on a key miss."""
        table = _t(sf_dir, self.table)
        key = (table, _fingerprint(table))
        d = self._dirs.get(key)
        if d is None or not os.path.isdir(d):
            t0 = time.perf_counter()
            for old in [k for k in self._dirs if k[0] == table]:
                shutil.rmtree(self._dirs.pop(old), ignore_errors=True)
            df = self.build(spark, sf_dir)
            d = tempfile.mkdtemp(prefix=f"{self.name}_", dir=_stage_root())
            df.write.mode("overwrite").parquet(d)
            self._dirs[key] = d
            _note_staged_build(self.name, time.perf_counter() - t0)
        return d

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(self.path(spark, sf_dir))

    def reset(self) -> None:
        """Drop this artifact's staged copies; the next call rebuilds."""
        for d in self._dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        self._dirs.clear()


def staged(name: str, table: str) -> Callable[[Callable], _Staged]:
    """Session staging: ``build(spark, sf_dir) -> DataFrame`` becomes a
    helper of the same signature that writes the build to parquet once
    and reads it back on every later call.

    - **Key:** ``(name, table path, input fingerprint)``, where the input
      is the ``table`` base table under ``sf_dir`` and the fingerprint is
      :func:`_fingerprint`. A new table path (a fresh copy of the
      tables) builds its own copy; a changed fingerprint evicts the
      artifact's stale copy of that path and rebuilds. Builder knobs are
      module constants that nothing rebinds during a process, so they are
      not part of the key.
    - **Lifecycle:** every artifact lives under one per-process session
      root (``sis_stage_<pid>_*`` in the temp dir), removed at exit; the
      first use sweeps roots left by processes that no longer exist.
    - **Accounting:** each build's wall seconds, including any staged
      builds nested in it, go to ``_note_staged_build(name, s)``.
    - **Determinism:** consumers read the staged rows, so staged and
      inline results agree only because every builder is deterministic
      and parquet round-trips its column types exactly.

    The wrapper keeps the undecorated builder as ``.build``, exposes the
    staged directory as ``.path(spark, sf_dir)`` (for streaming sources)
    and drops its copies on ``.reset()``; :data:`STAGED_ARTIFACTS`
    registers it by name."""

    def wrap(build: Callable) -> _Staged:
        STAGED_ARTIFACTS[name] = _Staged(name, table, build)
        return STAGED_ARTIFACTS[name]

    return wrap


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"
def _read(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load a base table; ``fan_out=True`` opts the read into the
    scale-adaptive scan rebalance (identity on well-split inputs) —
    set it ONLY where the downstream is per-row expensive, see
    :func:`spark_ifs_spark.sources.parquet.fan_out`."""
    from spark_ifs_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, name, fan_out_scan=fan_out)
def _quantized_wide(spark: SparkSession, sf_dir: str, dims: int) -> tuple[DataFrame, list[str]]:
    emb = _read(spark, sf_dir, "embeddings")
    cols = [f"f{j}" for j in range(dims)]
    wide = emb.select(
        F.col("label").cast("double").alias("label"),
        F.col("vec_id"),
        *[
            F.floor(F.col("embedding")[j].cast("double") * QUANT_SCALE).cast("double").alias(c)
            for j, c in enumerate(cols)
        ],
    )
    return wide, cols
def _sql_emb_long(dims: int) -> str:
    return f"""
long AS MATERIALIZED (
  SELECT vec_id, i AS col, floor(CAST(embedding[i + 1] AS DOUBLE) * {QUANT_SCALE}) AS val
  FROM embeddings, range({dims}) t(i)
  UNION ALL
  SELECT vec_id, -1 AS col, CAST(label AS DOUBLE) AS val FROM embeddings
)"""
def _sql_pair_mi(dims: int) -> str:
    """CTE text computing mi(ca, cb) for ca in feature dims, cb in dims ∪ {-1}."""
    return _sql_pair_mi_over(_sql_emb_long(dims))


def _sql_syn_long(rows: int, dims: int, num_levels: int = 10) -> str:
    """``long`` CTE over the md5-seeded synthetic matrix
    (:func:`~spark_ifs_spark.sources.generator.random_conventional_md5_df`):
    cell(i, j) = md5_int60(f"{i}_{j}") % num_levels; column j=0 is the
    label and rides as col −1, features j>=1 ride as col j−1."""
    cell = sql_md5_int60(
        "concat(CAST(r.i AS VARCHAR), '_', CAST(c.j AS VARCHAR))"
    )
    return f"""
long AS MATERIALIZED (
  SELECT r.i AS vec_id, CAST(c.j AS INT) - 1 AS col,
         CAST({cell} % {num_levels} AS DOUBLE) AS val
  FROM range({rows}) r(i) CROSS JOIN range({dims + 1}) c(j)
)"""


def _sql_pair_mi_over(long_cte: str) -> str:
    """Pairwise-MI CTE chain over an arbitrary ``long`` relation
    (vec_id, col, val) with the label at col −1."""
    return f"""
{long_cte},
pairs AS MATERIALIZED (
  SELECT a.col AS ca, b.col AS cb, a.val AS va, b.val AS vb, count(*) AS c
  FROM long a JOIN long b ON a.vec_id = b.vec_id
  WHERE a.col >= 0 AND a.col <> b.col
  GROUP BY 1, 2, 3, 4
),
tot AS MATERIALIZED (SELECT ca, cb, sum(c) AS n FROM pairs GROUP BY 1, 2),
ma AS MATERIALIZED (SELECT ca, cb, va, sum(c) AS cna FROM pairs GROUP BY 1, 2, 3),
mb AS MATERIALIZED (SELECT ca, cb, vb, sum(c) AS cnb FROM pairs GROUP BY 1, 2, 3),
mi AS MATERIALIZED (
  SELECT p.ca, p.cb,
         sum((p.c * 1.0 / t.n) * ln((p.c * 1.0 * t.n) / (ma.cna * 1.0 * mb.cnb))) AS mi
  FROM pairs p
  JOIN tot t ON t.ca = p.ca AND t.cb = p.cb
  JOIN ma ON ma.ca = p.ca AND ma.cb = p.cb AND ma.va = p.va
  JOIN mb ON mb.ca = p.ca AND mb.cb = p.cb AND mb.vb = p.vb
  GROUP BY 1, 2
)"""
def _sql_unrolled_greedy(
    score_sql: str,
    red_rel: str = "mi",
    red_agg: str = "avg",
    extra_cte: str = "",
    num: int = MRMR_K,
    pair_mi: str | None = None,
) -> str:
    """Unrolled ``num``-round greedy selection over the pairwise-MI
    matrix. ``score_sql`` combines ``r.score`` (relevance) with
    ``{red}`` (the redundancy scalar subquery: ``red_agg`` over relation
    ``red_rel``, default the mean of pairwise MI) into the round score.
    ``extra_cte`` appends additional CTEs (e.g. the triple-MI relation
    the JMI score aggregates instead of pairwise MI); ``pair_mi``
    overrides the pair-MI CTE chain (default: the quantized embeddings
    matrix over MRMR_DIMS)."""
    if pair_mi is None:
        pair_mi = _sql_pair_mi(MRMR_DIMS)
    rounds = []
    prevs = []
    for k in range(1, num + 1):
        if k == 1:
            rounds.append("r1 AS MATERIALIZED (SELECT ca, mi AS score FROM mi WHERE cb = -1)")
        else:
            prev_union = " UNION ALL ".join(f"SELECT ca FROM w{j}" for j in range(1, k))
            red = (
                f"(SELECT {red_agg}(m.mi) FROM {red_rel} m WHERE m.ca = r.ca "
                f"AND m.cb IN ({prev_union}))"
            )
            rounds.append(
                f"""r{k} AS MATERIALIZED (
  SELECT r.ca, {score_sql.format(red=red)} AS score
  FROM r1 r WHERE r.ca NOT IN ({prev_union})
)"""
            )
        rounds.append(f"w{k} AS MATERIALIZED (SELECT ca, score FROM r{k} ORDER BY score DESC, ca ASC LIMIT 1)")
        prevs.append(f"SELECT {k} AS rank, ca AS feature, round(score, 6) AS score FROM w{k}")
    body = ",\n".join(rounds)
    final = "\nUNION ALL\n".join(prevs)
    return f"WITH {pair_mi}{extra_cte},\n{body}\n{final}"


def _sql_tri_mi(dims: int) -> str:
    """CTE text (leading comma form, for ``extra_cte``) computing
    ``mi3(ca, cb, mi)`` = I((X_ca, X_cb); Y) for every ordered feature
    pair — the JMI family's triple statistic, built on the same ``long``
    relation as the pairwise matrix (label rides as col −1)."""
    return """,
trip AS MATERIALIZED (
  SELECT a.col AS ca, b.col AS cb, a.val AS va, b.val AS vb, y.val AS vy,
         count(*) AS c
  FROM long a
  JOIN long b ON b.vec_id = a.vec_id AND a.col >= 0 AND b.col >= 0
             AND a.col <> b.col
  JOIN long y ON y.vec_id = a.vec_id AND y.col = -1
  GROUP BY 1, 2, 3, 4, 5
),
t3 AS MATERIALIZED (SELECT ca, cb, sum(c) AS n FROM trip GROUP BY 1, 2),
mab AS MATERIALIZED (SELECT ca, cb, va, vb, sum(c) AS cab FROM trip GROUP BY 1, 2, 3, 4),
my3 AS MATERIALIZED (SELECT ca, cb, vy, sum(c) AS cy FROM trip GROUP BY 1, 2, 3),
mi3 AS MATERIALIZED (
  SELECT t.ca, t.cb,
         sum((t.c * 1.0 / t3.n) * ln((t.c * 1.0 * t3.n) / (mab.cab * 1.0 * my3.cy))) AS mi
  FROM trip t
  JOIN t3 ON t3.ca = t.ca AND t3.cb = t.cb
  JOIN mab ON mab.ca = t.ca AND mab.cb = t.cb AND mab.va = t.va AND mab.vb = t.vb
  JOIN my3 ON my3.ca = t.ca AND my3.cb = t.cb AND my3.vy = t.vy
  GROUP BY 1, 2
)"""
_SQL_WORDS = """
words AS (
  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
)"""
_SQL_SHINGLES = f"""
{_SQL_WORDS},
sh AS (
  SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS sh
  FROM words a
  JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN words c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
)"""
EDIT_MAX_DIST = 12
EDIT_LEN_BAND = 12
def _sql_emb_lsh_cand_impl(
    src: str, num_planes: int, num_tables: int, seed: int
) -> str:
    """CTE chain replicating the cosine_lsh_pairs candidate gate over
    relation ``src``: planes VALUES → per-(vec, plane) projection →
    per-(vec, table) bucket → distinct colliding (id_a < id_b) pairs
    (``cand``) → exact-cosine ``lsh_pairs``. Plane draw order matches
    the operator exactly (Random(seed).gauss row-major)."""
    import random as _random

    rng = _random.Random(seed)
    planes = [
        [rng.gauss(0, 1) for _ in range(EMB_DIMS)]
        for _ in range(num_planes * num_tables)
    ]
    vals = ",".join(
        f"({p},{i},{w!r})"
        for p, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""pl(p, i, w) AS (VALUES {vals}),
proj AS (
  SELECT e.vec_id, pl.p, sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
  FROM {src} e CROSS JOIN pl
  GROUP BY 1, 2
),
bk AS (
  SELECT vec_id, CAST(p // {num_planes} AS INT) AS tbl,
         sum(CASE WHEN d >= 0
             THEN (CAST(1 AS BIGINT) << CAST(p % {num_planes} AS INT))
             ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
unit AS (
  SELECT vec_id,
         [CAST(x AS DOUBLE) / sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE) FOR y IN embedding]))
          FOR x IN embedding] AS u
  FROM {src}
),
lsh_pairs AS MATERIALIZED (
  -- list_dot_product over pre-unit vectors: one row per candidate pair
  -- instead of the 64x range-join explosion, which at sf0.1 spilled
  -- DuckDB past the disk budget
  SELECT c.id_a, c.id_b, list_dot_product(ua.u, ub.u) AS cos
  FROM cand c
  JOIN unit ua ON ua.vec_id = c.id_a
  JOIN unit ub ON ub.vec_id = c.id_b
)"""
def _sql_emb_lsh_cand() -> str:
    """Shared CTE chain replicating the cosine_lsh_pairs candidate gate:
    planes VALUES → per-(vec, plane) projection → per-(vec, table)
    bucket → distinct colliding (id_a < id_b) pairs, named ``cand``."""
    return _sql_emb_lsh_cand_impl(
        "embeddings", EMB_LSH_PLANES, EMB_LSH_TABLES, EMB_LSH_SEED
    )
# production-threshold LSH demo: cosine >= 0.9, P=10 bits x L=12 tables.
# The raw synthetic embeddings hold NO pairs at 0.9, so the fixture
# plants deterministic near-dup replicas (every HI_MOD-th vector, offset
# ids, a fixed rational per-dimension perturbation — exact IEEE-identical
# arithmetic in both engines; planted pairs land at cosine ~0.9998).
EMB_LSH_HI_THRESHOLD = 0.9
EMB_LSH_HI_PLANES = 10
EMB_LSH_HI_TABLES = 12
EMB_LSH_HI_MOD = 20
EMB_LSH_HI_ID_OFFSET = 100000
def _aug_hi_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-dup replicas: every ``EMB_LSH_HI_MOD``-th
    vector reappears at ``vec_id + EMB_LSH_HI_ID_OFFSET`` perturbed by
    ``((i*37) % 13 - 6) / 200`` per dimension — integer ops + one
    correctly-rounded double division, so DuckDB's replica is
    bit-identical (`_sql_aug_hi`)."""
    emb = _read(spark, sf_dir, "embeddings")
    pert = emb.filter(F.col("vec_id") % EMB_LSH_HI_MOD == 0).select(
        (F.col("vec_id") + EMB_LSH_HI_ID_OFFSET).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) ->"
            " CAST(x AS DOUBLE) + ((i * 37) % 13 - 6) / 200.0D)"
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    ).unionByName(pert)
def _sql_aug_hi() -> str:
    """DuckDB replica of :func:`_aug_hi_embeddings`, named ``aug``."""
    return f"""aug AS (
  SELECT vec_id, [CAST(embedding[t + 1] AS DOUBLE) FOR t IN range({EMB_DIMS})] AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + {EMB_LSH_HI_ID_OFFSET} AS vec_id,
         [CAST(embedding[t + 1] AS DOUBLE) + ((t * 37) % 13 - 6) / 200.0
          FOR t IN range({EMB_DIMS})] AS embedding
  FROM embeddings WHERE vec_id % {EMB_LSH_HI_MOD} = 0
)"""
def _sql_count_word(word: str) -> str:
    return f"len(regexp_extract_all(' ' || text || ' ', ' {word} '))"
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
SPLIT_SEED = 42
CAP_PER_SOURCE = 10
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
PACK_TARGET = 256
DECONTAM_N = 4
DECONTAM_EVAL_MOD = 97
TFIDF_K = 3
BM25_QUERY_TERMS = ["spark", "shuffle", "join", "window"]
BM25_K = 10
TFIDF_PAIR_THRESHOLD = 0.5
TFIDF_PAIR_MAX_DF = 200
BIGVOL_QTY = 300
WIDGET_QTY = 60
MKT_REGION = "ASIA"
MKT_SUPP_NATION = "NATION_2"
MKT_PART_TYPE = "PROMO"
HLL_P = 9
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_SEED = 101
CMS_PROBES = ["the", "spark", "join", "window", "batch", "scan", "stream", "zz_absent_zz"]
PMI_K = 30
PMI_MIN_COUNT = 5
LR_FEATURES = ["x0", "x1", "x2"]
LR_ITERS = 2
FUNNEL_STAGES = ["view", "click", "purchase"]
WSAMPLE_N = 50
WSAMPLE_SEED = 17
PAGERANK_ITERS = 2
PAGERANK_DAMPING = 0.85
JOURNEY_GAP_S = 43200
JOURNEY_K = 10
MIX_TARGETS = {f"src{i}": 1500 + 1500 * (i % 3) for i in range(20)}
MIX_SEED = 7
SPAN_WORDS = 8
BPE_MERGES = 5
def _sql_bpe_round(r: int) -> str:
    """One unrolled BPE merge round: weighted pair counts → argbest →
    run-parity merge (≡ the sequential left-to-right fold; candidates
    can only be consecutive when x == y, and within such a run exactly
    the even offsets merge)."""
    i = "CAST(u.i AS INT)"
    return f"""
pairs{r} AS (
  SELECT s[{i}] AS x, s[{i} + 1] AS y, sum(c) AS n
  FROM syms{r}, unnest(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY 1, 2
),
win{r} AS (SELECT x, y, n FROM pairs{r} ORDER BY n DESC, x ASC, y ASC LIMIT 1),
pos{r} AS (
  SELECT w, c, s, {i} AS pos,
         ({i} < len(s)
          AND s[{i}] = (SELECT x FROM win{r})
          AND s[{i} + 1] = (SELECT y FROM win{r})) AS cand
  FROM syms{r}, unnest(generate_series(1, len(s))) AS u(i)
),
rs{r} AS (
  SELECT *, max(CASE WHEN NOT cand THEN pos END)
              OVER (PARTITION BY w ORDER BY pos) AS last_nc
  FROM pos{r}
),
m{r} AS (
  SELECT *, cand AND ((pos - coalesce(last_nc, 0) - 1) % 2 = 0) AS merged
  FROM rs{r}
),
k{r} AS (
  SELECT w, c, pos,
         CASE WHEN merged THEN s[pos] || s[pos + 1] ELSE s[pos] END AS sym,
         coalesce(lag(merged) OVER (PARTITION BY w ORDER BY pos), false) AS absorbed
  FROM m{r}
),
syms{r + 1} AS (
  SELECT w, any_value(c) AS c, list(sym ORDER BY pos) AS s
  FROM k{r} WHERE NOT absorbed GROUP BY w
)"""
def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (F.size(F.split(F.col("text"), " ")) / F.lit(100.0)).alias("x2"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
LATE_DAYS = 150
BLOOM_DECONTAM_N = 5
BLOOM_EVAL_MOD = 89
BOILER_MIN_FRAC = 0.05
BOILER_TOP = 50
NOVELTY_MAX_FRAC = 0.05
TEMP_MIX_SEED = 7
_PROFILE_SKETCH_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
PAIR_LIFT_MIN_COUNT = 3
PAIR_LIFT_TOP = 30
KWIC_TERMS = ["spark", "shuffle"]
KWIC_WINDOW = 2
KWIC_LIMIT = 200
HIST_BIN_WIDTH = 25
SLA_DAYS = 60
MAD_SCALE = 1.4826
MAD_K = 3.0
IMPUTE_MISSING_MOD = 13
HIST_QUANTILES = [0.5, 0.95, 0.99]
import math as _math
_BENFORD_PPM = {
    d: int(_math.floor(_math.log10(1 + 1 / d) * 1_000_000)) for d in range(1, 10)
}


# product quantization (ann_topk_pq)
PQ_M = 8
PQ_KCODE = 16
PQ_RESCORE = 50
PQ_SCALE = 64


# hard-negative mining (hard_negatives)
HARDNEG_K = 3
HARDNEG_DUP_CEILING = 0.95


# ColBERT-style MaxSim retrieval (maxsim_topk)
MAXSIM_QUERIES = {
    "q_exec": ["spark", "shuffle", "join"],
    "q_stream": ["window", "batch", "stream"],
}
MAXSIM_K = 10
MAXSIM_BUCKETS = 64


# rendezvous-hash shard manifest (shard_manifest)
MANIFEST_SHARDS = 8


# hybrid retrieval: reciprocal-rank fusion of BM25 + MaxSim (hybrid_rrf)
RRF_K = 60
HYBRID_K = 10


# temperature water-filling token budget (token_budget_alloc)
TOKBUDGET_FRAC = 0.5


# Zipf power-law fit over the vocabulary head (zipf_fit)
ZIPF_TOP_N = 500


# asymmetric containment dedup (dedup_containment)
CONTAIN_THRESHOLD = 0.8
CONTAIN_MIN_SUB_SH = 5


# URL/host-level dedup composite (url_dedup). The documents table has
# no url column, so the fixture plants deterministic URLs: canonical
# identity = doc_id % 60 (which also determines source = src(doc_id %
# 20), so host/path agree within a group) with retrieval noise —
# scheme / www. / case / trailing slash / query / fragment — keyed on
# moduli coprime to 60, so raw URLs inside one canonical group DIFFER
# and the canonicalizer is actually exercised.
URL_HOST_CAP = 2
URL_BLOCKED_HOSTS = ["src3.example.com", "src7.example.com"]
URL_CANON_MOD = 60
def _url_fixture_expr(cast_t: str) -> str:
    """Engine-shared planted-URL expression (``cast_t``: STRING for
    Spark, VARCHAR for DuckDB; everything else is dialect-common)."""
    return f"""concat(
  CASE WHEN doc_id % 7 < 4 THEN 'https://' ELSE 'http://' END,
  CASE WHEN doc_id % 11 < 5 THEN 'www.' ELSE '' END,
  CASE WHEN doc_id % 19 = 0 THEN upper(concat(source, '.example.com'))
       ELSE concat(source, '.example.com') END,
  '/articles/', CAST(doc_id % {URL_CANON_MOD} AS {cast_t}),
  CASE WHEN doc_id % 23 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 13 = 0
       THEN concat('?utm_source=feed&ref=', CAST(doc_id AS {cast_t}))
       ELSE '' END,
  CASE WHEN doc_id % 17 = 0
       THEN concat('#sec-', CAST(doc_id % 9 AS {cast_t}))
       ELSE '' END)"""


# DSIR importance resampling (dsir_select)
DSIR_BUCKETS = 512
DSIR_ALPHA = 1.0
DSIR_K = 100
DSIR_TARGET_LANG = "en"


# DoReMi-style domain-weight update (doremi_weights)
DOREMI_ETA = 8.0
DOREMI_SMOOTHING = 0.2


# Unigram-LM (SentencePiece-style) tokenizer training (unigram_lm_vocab)
UNI_MAX_PIECE = 4
UNI_MIN_COUNT = 5
UNI_EM_ROUNDS = 2
UNI_PRUNE_TOP = 64
UNI_VOCAB_KEEP = 48


# DoReMi weights applied to the corpus mix (doremi_mix)
DOREMI_MIX_CHARS = 400_000


def _punct_fixture_expr(dialect: str) -> str:
    """Punctuated-text fixture for readability scoring: the documents
    table is punctuation-free word prose, so terminal punctuation is
    planted deterministically per (doc_id, word index) — '.' every
    (3·doc_id + i) ≡ 0 (mod 7), '!' on a coprime 23-modulus, '?' on a
    41-modulus — giving variable sentence lengths per document.
    Expects the words array bound as ``ws``; dialect is ``"spark"`` or
    ``"duck"`` (index lambda vs list comprehension spelling)."""
    case = """CASE
  WHEN (doc_id * 3 + i) % 7 = 0 THEN concat({w}, '.')
  WHEN (doc_id * 5 + i) % 23 = 0 THEN concat({w}, '!')
  WHEN (doc_id + i) % 41 = 0 THEN concat({w}, '?')
  ELSE {w} END"""
    if dialect == "spark":
        return (
            "array_join(transform(ws, (w, i) -> "
            + case.format(w="w")
            + "), ' ')"
        )
    return (
        "array_to_string(["
        + case.format(w="ws[CAST(i AS INT) + 1]")
        + " FOR i IN range(len(ws))], ' ')"
    )


# C4-style line-level cleaning (c4_line_filters, c4_line_dedup). The
# documents table is single-line prose, so the fixture derives a
# deterministic multi-line "page" per document: consecutive
# C4_LINE_WORDS-word chunks become lines, and planted decorations keyed
# on (doc_id, line_no) moduli exercise every C4 rule — brace lines,
# "javascript" boilerplate lines, policy-phrase lines, lines without
# terminal punctuation (1 in 3), and naturally-short tail chunks.
C4_LINE_WORDS = 6
C4_MIN_WORDS = 5  # C4 keeps lines with >= 5 words


def _c4_line_fixture_expr(dialect: str) -> str:
    """Decorated line at 0-based index ``i`` of the words array ``ws``
    for the row's ``doc_id`` — the engine-shared C4 page fixture.
    ``dialect`` is ``"spark"`` or ``"duck"``; the decoration CASE is
    dialect-common, only array slice/join spellings differ."""
    W = C4_LINE_WORDS
    if dialect == "spark":
        base = f"array_join(slice(ws, CAST(i * {W} + 1 AS INT), {W}), ' ')"
    else:
        base = (
            f"array_to_string(ws[CAST(i * {W} + 1 AS INT)"
            f":CAST(i * {W} + {W} AS INT)], ' ')"
        )
    return f"""CASE
  WHEN (doc_id * 5 + i) % 31 = 0 THEN concat('{{ code ', {base}, ' }}')
  WHEN (doc_id * 7 + i) % 29 = 0 THEN 'please enable javascript to continue.'
  WHEN (doc_id * 11 + i) % 37 = 0 THEN concat({base}, ' terms of use.')
  WHEN (doc_id + i) % 3 <> 0 THEN concat({base}, '.')
  ELSE {base} END"""
