"""On-disk format of the incremental state: append-only delta trees
and the per-batch commit marker.

Every piece of accumulated state is a ``StateTree``: per-batch delta
partitions ``<name>/<part>=N`` written once (idempotent overwrite),
plus FOLDS ``<name>_compact/<part>=N`` that every FOLD_EVERY-th batch
writes with the caller's view of the whole tree as of N. A fold
counts only once its ``_SUCCESS`` exists. A read as of batch U is
the last committed fold F ≤ U plus the deltas in (F, U], so it opens
one fold and at most ~FOLD_EVERY delta dirs however long the stream
has run. At micro-batch cadence, the growing tree's file-open cost
was the measured residual linear term (BASELINE.md round-5 curve).
Fold rows carry the fold batch in the part column, so a latest-wins
view orders them before every later delta.

Batch N commits with one empty file ``done/_DONE_{N:04d}_{md5(text)}``,
written last. The marker text names the epoch (structured.py), so
both the last committed batch and the replay check cost one listdir
and no file opens.

State written in an older layout raises ``ValueError`` on attach
(``check_layout``); nothing adopts or migrates it.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Fold cadence shared by every tree: batch N folds when N % FOLD_EVERY
# == 0 (N > 0). Amortized O(state/K) extra rows per batch buys reads
# of one fold + ≤ K deltas.
FOLD_EVERY = 16

# Fold file sizing: the fold is the one place the engine controls the
# state tree's file granularity, so size it for the scan instead of
# inheriting however many shuffle partitions the view happened to
# have. Files hold at most _FOLD_ROWS_PER_FILE rows (listing stays
# cheap at billions of rows), AND a fold big enough to matter spreads
# over >= min(parallelism, rows/_FOLD_MIN_ROWS_PER_FILE) files — a
# single-file fold made every later state scan a one-task stage
# (measured +1.5-2 s/batch on the 80-batch curve).
_FOLD_ROWS_PER_FILE = 1_000_000
_FOLD_MIN_ROWS_PER_FILE = 4_096


def _footer_rows(path: str) -> int | None:
    """Exact row count of a committed parquet dir from its footers — a
    driver-side metadata read, not a Spark job. None when the dir is
    missing or uncommitted (no ``_SUCCESS``)."""
    import pyarrow.parquet as pq

    try:
        names = os.listdir(path)
        if "_SUCCESS" not in names:
            return None
        return sum(
            pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
            for n in names
            if n.endswith(".parquet")
        )
    except OSError:
        return None


class StateTree:
    """One append-only delta tree ``state_dir/name/part=N`` with its
    folds under ``state_dir/name_compact/part=N`` (module docstring)."""

    def __init__(self, state_dir: str, name: str, part: str) -> None:
        self.root = os.path.join(state_dir, name)
        self.fold_root = os.path.join(state_dir, f"{name}_compact")
        self.part = part

    def path(self, b: int) -> str:
        return os.path.join(self.root, f"{self.part}={b}")

    def _fold_path(self, b: int) -> str:
        return os.path.join(self.fold_root, f"{self.part}={b}")

    def write(self, b: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path(b))

    def rows(self, b: int) -> int | None:
        """Rows of the committed delta ``b`` from its parquet footers
        (None when it is missing or uncommitted)."""
        return _footer_rows(self.path(b))

    def _last_fold(self, upto: int, max_fold: int | None = None) -> int:
        """Highest committed fold batch ≤ min(upto, max_fold), or -1."""
        if max_fold is not None:
            upto = min(upto, max_fold)
        best = -1
        if os.path.isdir(self.fold_root):
            for name in os.listdir(self.fold_root):
                key, _, val = name.partition("=")
                if key != self.part or not val.isdigit():
                    continue
                b = int(val)
                if b <= upto and os.path.exists(
                    os.path.join(self.fold_root, name, "_SUCCESS")
                ):
                    best = max(best, b)
        return best

    def read(
        self, spark: SparkSession, upto: int, max_fold: int | None = None
    ) -> tuple[DataFrame, int]:
        """(rows of the tree as of ``upto``, fold batch used or -1).

        The rows are the last committed fold F ≤ min(upto, max_fold)
        plus the deltas in (F, upto]; the part column holds each delta's
        batch and F for the fold rows. ``max_fold`` lets a fold writer
        seed from the fold before the one it overwrites."""
        since = self._last_fold(upto, max_fold)
        p = F.col(self.part)
        df = spark.read.parquet(self.root).where((p > since) & (p <= upto))
        if since >= 0:
            df = df.unionByName(
                spark.read.parquet(self._fold_path(since)).withColumn(
                    self.part, F.lit(since)
                )
            )
        return df, since

    def total_rows(self, upto: int, max_fold: int | None = None) -> int | None:
        """Rows ``read(upto, max_fold)`` scans, from footers: the fold
        plus each delta after it. None when any of them is unreadable.
        Exact for a plain-union view, an upper bound for the others."""
        since = self._last_fold(upto, max_fold)
        total = 0
        if since >= 0:
            n = _footer_rows(self._fold_path(since))
            if n is None:
                return None
            total += n
        for b in range(since + 1, upto + 1):
            n = self.rows(b)
            if n is None:
                return None
            total += n
        return total

    def fold(
        self, b: int, view: Callable[[int, int], DataFrame]
    ) -> None:
        """On the fold cadence, write ``view(b, b - 1)`` — the caller's
        view of the tree as of ``b`` with ``max_fold=b-1`` — as the fold
        at ``b``; off the cadence, do nothing.

        Seeding from the fold ≤ b-1 keeps the crash window safe: a
        crash after this fold's ``_SUCCESS`` but before the batch's
        commit marker replays batch b, and that replay must not read
        the path it is about to overwrite (Spark refuses, so every
        resume would fail). Delta dirs stay on disk; reads simply stop
        touching them."""
        if b <= 0 or not FOLD_EVERY or b % FOLD_EVERY:
            return
        df = view(b, b - 1)
        n_rows = self.total_rows(b, max_fold=b - 1)
        if n_rows is not None:
            par = df.sparkSession.sparkContext.defaultParallelism
            by_cap = -(-n_rows // _FOLD_ROWS_PER_FILE)
            by_par = min(par, -(-n_rows // _FOLD_MIN_ROWS_PER_FILE))
            df = df.coalesce(max(1, by_cap, by_par))
        df.write.mode("overwrite").parquet(self._fold_path(b))


# ------------------------------------------------------------ commit marker
_MARKER = re.compile(r"_DONE_(\d{4,})_([0-9a-f]{32})")


def _digest(marker_text: str) -> str:
    return hashlib.md5(marker_text.encode()).hexdigest()


def _committed(state_dir: str) -> dict[int, str]:
    """Committed batches -> the md5 of their marker text. One listdir;
    raises ValueError on a ``done/`` entry of any other form."""
    done_dir = os.path.join(state_dir, "done")
    commits: dict[int, str] = {}
    foreign: list[str] = []
    if os.path.isdir(done_dir):
        for name in sorted(os.listdir(done_dir)):
            m = _MARKER.fullmatch(name)
            if m:
                commits[int(m.group(1))] = m.group(2)
            else:
                foreign.append(f"done/{name}")
    if foreign:
        raise _old_layout(state_dir, foreign)
    return commits


def commit(state_dir: str, b: int, marker_text: str) -> None:
    """Commit batch ``b``: the empty marker file, written after every
    other write of the batch."""
    done_dir = os.path.join(state_dir, "done")
    os.makedirs(done_dir, exist_ok=True)
    name = f"_DONE_{b:04d}_{_digest(marker_text)}"
    open(os.path.join(done_dir, name), "w").close()


def last_complete_batch(state_dir: str) -> int:
    return max(_committed(state_dir), default=-1)


def epoch_already_processed(state_dir: str, epoch_marker: str) -> bool:
    """True iff some batch committed with this marker text — the
    foreachBatch replay guard (structured.make_process_batch)."""
    return _digest(epoch_marker) in _committed(state_dir).values()


def _old_layout(state_dir: str, found: list[str]) -> ValueError:
    return ValueError(
        f"state dir {state_dir!r} was written in an older state layout "
        f"({', '.join(found)}); this engine does not read or migrate "
        "it — start from a fresh state dir"
    )


def check_layout(state_dir: str) -> None:
    """Raise ValueError if ``state_dir`` holds state in a layout older
    than this module's: a ``done/`` entry that is no commit marker,
    the ``feat_counts/`` or ``round_counts/`` count ledgers, a plain
    marker file under ``clusters_compact/``, or a global-mode state
    (it has ``revoked/``) with commits but no ``clusters/`` tree."""
    found = [
        f"{d}/"
        for d in ("feat_counts", "round_counts")
        if os.path.isdir(os.path.join(state_dir, d))
    ]
    cc = os.path.join(state_dir, "clusters_compact")
    if os.path.isdir(cc):
        found += [
            f"clusters_compact/{n}"
            for n in sorted(os.listdir(cc))
            if os.path.isfile(os.path.join(cc, n))
        ]
    if (
        _committed(state_dir)
        and os.path.isdir(os.path.join(state_dir, "revoked"))
        and not os.path.isdir(os.path.join(state_dir, "clusters"))
    ):
        found.append("revoked/ without clusters/")
    if found:
        raise _old_layout(state_dir, found)
