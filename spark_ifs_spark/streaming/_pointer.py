"""The pointer-commit protocol every maintained streaming index runs on:
the five sketch indexes (``sketch.py``: CMS, rank sketch, HLL,
Misra-Gries, KMV), ``profile``, ``decontam``, ``minhash``, ``knn`` and
``ann``. Each module supplies only its per-batch partial, its read-side
fold and its compaction fold; :class:`PointerIndex` owns the rest.

Layout of an index at ``path``::

    path/current.json              the pointer — the ONLY commit point
    path/<prefix><v>/<rel>/batch=<id>/   per-batch partials of the live version
    path/<prefix><v>/<rel>/batch=-1/     the compacted base
    path/<rel>/batch=<id>/         unversioned relations (minhash pairs,
                                   knn vectors), never compacted

The pointer is one JSON object: ``version``, ``dir`` (the live version
directory, ``prefix + version``), ``last_batch_id`` (the append
watermark), ``params`` (``{}`` for indexes with nothing to guard) and
whatever extra fields a module pairs with the snapshot (Misra-Gries
``n_rows``, IVF ``centroids``). It is replaced atomically
(``os.replace``), so a reader that resolves it once sees a complete,
mutually consistent snapshot.

The contract:

- **Data first, pointer last.** A batch writes its partials, then
  commits the pointer. Partials go to ``batch=<id>`` directories with
  ``mode("overwrite")``: a replayed batch rewrites the same bytes, so
  the write is idempotent by construction. The ``batch`` column
  readers prune on comes from the directory name, never from a data
  column.
- **Committed prefix.** Readers partition-prune to ``batch <=
  last_batch_id``. A crash between the data write and the commit
  leaves a directory no reader can see; the replay rewrites it.
- **Replay skip.** A batch id at or below the watermark is skipped.
  This is valid only under the SAME checkpoint, where Structured
  Streaming guarantees a replayed batch id carries the rows it carried
  before. Pointing a FRESH checkpoint at an existing index is supported
  only for an identical feed: a new run may group old and new source
  files into one low-numbered batch, and skipping it would drop the
  new rows. Start a fresh index for any other cross-checkpoint rerun.
- **Parameters.** An appender whose parameters differ from the
  committed ones is a hard error: partials under different hash
  families, widths or k must never merge.
- **Empty batches** write nothing and leave the pointer alone; the
  watermark advances with the next non-empty batch.
- **Version swap.** Compaction sweeps orphan version directories,
  writes the folded state into a NEW version directory, commits the
  pointer (watermark, parameters and extra fields carried over), then
  removes the old version. A crash at any instant leaves the pointer
  naming a complete version; orphans are swept by the next swap.
- **Single writer.** Exactly one appender or compactor runs at a time.
  The orphan sweep would delete a concurrent compaction's uncommitted
  version. Readers are always safe: they follow only the pointer.

On an object store the ``os.replace`` of the pointer becomes the
catalog or table-format commit (Iceberg/Delta metadata commits are the
same pattern).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _pointer_path(path: str) -> str:
    return os.path.join(path.rstrip("/"), "current.json")


def _read_state(path: str) -> dict | None:
    p = _pointer_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _commit_state(path: str, state: dict) -> None:
    p = _pointer_path(path)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)  # atomic on POSIX — the one commit point


class PointerIndex:
    """One pointer-committed index at ``path`` whose version
    directories are named ``prefix + version``; ``kind`` names the
    index in error messages."""

    def __init__(self, path: str, prefix: str, kind: str):
        self.path = path.rstrip("/")
        self.prefix = prefix
        self.kind = kind

    def state(self) -> dict:
        """The committed pointer."""
        state = _read_state(self.path)
        if state is None:
            raise FileNotFoundError(f"no committed {self.kind} at {self.path}")
        return state

    def committed(
        self,
        spark: SparkSession,
        rel: str,
        schema: str | None = None,
        state: dict | None = None,
        versioned: bool = True,
    ) -> DataFrame:
        """The committed prefix (``batch <= last_batch_id``) of relation
        ``rel`` under the live version directory (``rel=""`` is the
        version directory itself), or under the index root when
        ``versioned`` is false. ``state`` pins the snapshot a caller
        already resolved. An empty frame of ``schema`` when the
        relation does not exist yet."""
        state = self.state() if state is None else state
        base = os.path.join(self.path, state["dir"]) if versioned else self.path
        path = os.path.join(base, rel) if rel else base
        if schema is not None and not os.path.isdir(path):
            return spark.createDataFrame([], schema)
        return spark.read.parquet(path).where(
            F.col("batch") <= state["last_batch_id"]
        )

    def apply(
        self,
        batch: DataFrame,
        batch_id: int,
        params: dict,
        write: Callable[[DataFrame, int, dict], None],
    ) -> bool:
        """Run one micro-batch through the protocol; True when it
        committed. ``write(batch, batch_id, state)`` writes the batch's
        partials and may set extra pointer fields on ``state``; a first
        batch sees the seeded state (``last_batch_id == -1``)."""
        state = _read_state(self.path)
        if state is not None:
            if state["params"] != params:
                raise ValueError(
                    f"{self.kind} at {self.path} was built with "
                    f"{state['params']}, appender configured with {params} — "
                    "partials under different parameters must not merge; "
                    "rebuild or match parameters"
                )
            if batch_id <= state["last_batch_id"]:
                return False  # same-checkpoint replay — already absorbed
        if batch.isEmpty():
            return False
        if state is None:
            os.makedirs(self.path, exist_ok=True)
            state = {
                "version": 0,
                "dir": f"{self.prefix}0",
                "last_batch_id": -1,
                "params": params,
            }
        write(batch, batch_id, state)
        state["last_batch_id"] = batch_id
        _commit_state(self.path, state)
        return True

    def sink(
        self,
        stream: DataFrame,
        checkpoint: str,
        params: dict,
        write: Callable[[DataFrame, int, dict], None],
        after_commit: Callable[[int], None] | None = None,
    ):
        """Start the ``foreachBatch`` + ``availableNow`` query that
        :meth:`apply`-s every micro-batch of ``stream``;
        ``after_commit(batch_id)`` runs after each committed batch.
        Returns the StreamingQuery."""

        def _batch(batch: DataFrame, batch_id: int) -> None:
            if self.apply(batch, batch_id, params, write) and after_commit:
                after_commit(batch_id)

        return (
            stream.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def swap(self, write_version: Callable[[str], None], **pointer_updates) -> None:
        """Compact into a new version: sweep orphan versions,
        ``write_version(new_version_dir)``, commit the pointer with the
        watermark, parameters and extra fields carried over (overridden
        by ``pointer_updates``), then remove the old version."""
        state = self.state()
        for d in os.listdir(self.path):
            if d.startswith(self.prefix) and d != state["dir"]:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        version = state["version"] + 1
        new_dir = f"{self.prefix}{version}"
        write_version(os.path.join(self.path, new_dir))
        _commit_state(
            self.path,
            {**state, **pointer_updates, "version": version, "dir": new_dir},
        )
        shutil.rmtree(os.path.join(self.path, state["dir"]), ignore_errors=True)
