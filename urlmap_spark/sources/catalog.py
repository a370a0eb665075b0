"""Catalog shim: atomic per-round commits over plain Parquet.

The target deployment uses Iceberg tables (snapshot-isolated commits);
the Iceberg runtime JAR is not available in this sandbox, so this shim
provides the same contract over a directory layout:

    <root>/rounds/r=NNNN/{frontier,results,seen_delta,lineage}/  (parquet)
    <root>/rounds/r=NNNN/metrics.json
    <root>/rounds/r=NNNN/_COMMITTED          <- written LAST (atomic marker)

A round is visible iff its _COMMITTED marker exists; a crashed round
leaves no marker and is overwritten on resume. This emulates Iceberg's
snapshot semantics (readers never see a half-written round) with rename-
level atomicity, and keeps the code Iceberg-ready: every write goes
through commit_round()/read_* below, so swapping in `writeTo(...).append()`
is a one-file change.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession


class RoundCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "rounds"), exist_ok=True)

    def _rdir(self, r: int) -> str:
        return os.path.join(self.root, "rounds", f"r={r:04d}")

    def committed_rounds(self) -> list[int]:
        base = os.path.join(self.root, "rounds")
        out = []
        for d in os.listdir(base):
            if d.startswith("r=") and os.path.exists(os.path.join(base, d, "_COMMITTED")):
                out.append(int(d[2:]))
        return sorted(out)

    def last_round(self) -> int | None:
        rs = self.committed_rounds()
        return rs[-1] if rs else None

    def commit_round(self, r: int, tables: dict[str, DataFrame], metrics: dict,
                     partition_by: dict[str, list[str]] | None = None,
                     observed: Observation | None = None) -> None:
        """Write all tables + metrics, then the commit marker (atomic-ish:
        a reader only trusts rounds with the marker). partition_by maps a
        table name to its on-disk partition columns (e.g. the frontier's
        host-hash bucket — north_rule: a frontier partitioned by
        host-hash, so per-host maintenance reads prune at scan time).
        observed: an Observation on one of the tables; its values join
        `metrics` (in place) once the table writes have fired it."""
        rdir = self._rdir(r)
        if os.path.exists(rdir):  # uncommitted leftover from a crash
            shutil.rmtree(rdir)
        os.makedirs(rdir)
        for name, df in tables.items():
            w = df.write.mode("overwrite")
            cols = (partition_by or {}).get(name)
            if cols:
                w = w.partitionBy(*cols)
            w.parquet(os.path.join(rdir, name))
        if observed is not None:
            metrics.update(observed.get)
        tmp = os.path.join(rdir, ".metrics.tmp")
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, os.path.join(rdir, "metrics.json"))
        # marker last: rename is atomic on POSIX
        mtmp = os.path.join(rdir, "._COMMITTED.tmp")
        open(mtmp, "w").close()
        os.replace(mtmp, os.path.join(rdir, "_COMMITTED"))

    def round_table_dir(self, r: int, name: str) -> str:
        return os.path.join(self._rdir(r), name)

    def read(self, spark: SparkSession, r: int, name: str) -> DataFrame:
        return spark.read.parquet(self.round_table_dir(r, name))

    def drop_superseded(self, name: str) -> None:
        """Delete table `name` from every committed round but the last —
        for state whose readers only ever take the last round's copy
        (the seen prefilter blobs: each round commits a full set)."""
        for r in self.committed_rounds()[:-1]:
            shutil.rmtree(self.round_table_dir(r, name), ignore_errors=True)

    # --- named (non-round) tables -------------------------------------------
    # Crawl-lifetime state that belongs to the whole run rather than any
    # round — today the persisted SEED table (VERDICT r4 #2: DataFrame
    # seeds must compose with checkpoint/resume, which means the seed
    # set itself is catalog state, not a config literal). Same commit
    # protocol as rounds: data + meta, then the atomic _COMMITTED marker.

    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, "tables", name, "data")

    def has_table(self, name: str) -> bool:
        return os.path.exists(
            os.path.join(self.root, "tables", name, "_COMMITTED"))

    def commit_table(self, name: str, df: DataFrame,
                     partition_by: list[str] | None = None,
                     meta: dict | None = None) -> None:
        tdir = os.path.join(self.root, "tables", name)
        if os.path.exists(tdir):  # uncommitted leftover / re-commit
            shutil.rmtree(tdir)
        os.makedirs(tdir)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(tdir, "data"))
        tmp = os.path.join(tdir, ".meta.tmp")
        with open(tmp, "w") as f:
            json.dump(meta or {}, f)
        os.replace(tmp, os.path.join(tdir, "meta.json"))
        mtmp = os.path.join(tdir, "._COMMITTED.tmp")
        open(mtmp, "w").close()
        os.replace(mtmp, os.path.join(tdir, "_COMMITTED"))

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        if not self.has_table(name):
            raise FileNotFoundError(f"no committed table '{name}' under {self.root}")
        return spark.read.parquet(self.table_dir(name))

    def read_table_meta(self, name: str) -> dict:
        with open(os.path.join(self.root, "tables", name, "meta.json")) as f:
            return json.load(f)

    def read_metrics(self, r: int) -> dict:
        with open(os.path.join(self._rdir(r), "metrics.json")) as f:
            return json.load(f)

    def _cdir(self, name: str) -> str:
        return os.path.join(self.root, "compact", name)

    def _snapshot(self, name: str) -> tuple[int, int, str] | None:
        """Newest committed compaction snapshot of `name` as (round it
        covers, sequence, dir), or None. A second compaction at the same
        round (e.g. retirement right after an inline compaction) writes
        v=<round>.<seq> next to the snapshot it reads."""
        base = self._cdir(name)
        if not os.path.isdir(base):
            return None
        vs = []
        for d in os.listdir(base):
            if d.startswith("v=") and os.path.exists(os.path.join(base, d, "_COMMITTED")):
                r, _, k = d[2:].partition(".")
                vs.append((int(r), int(k or 0), os.path.join(base, d)))
        return max(vs) if vs else None

    def compact(self, spark: SparkSession, name: str = "seen_delta",
                num_files: int | None = None, vacuum: bool = False,
                minus: DataFrame | None = None,
                minus_key: str = "url",
                partition_by: list[str] | None = None) -> int | None:
        """Fold every committed per-round `name` table into ONE snapshot
        (compact/<name>/v=<last_round>/) — the Iceberg rewrite_data_files
        analog for this shim. A 1000-round crawl otherwise accretes
        thousands of small delta files whose open/footer cost dominates
        the resume scan (the classic small-files problem). Deltas are
        disjoint by construction (each round's rows were anti-joined
        against everything earlier), so compaction is pure concatenation.
        Readers only trust a snapshot with its _COMMITTED marker, and
        read_union automatically serves snapshot + post-snapshot deltas.
        vacuum=True removes the per-round table dirs the snapshot covers
        (the round markers and other tables stay; read_union skips the
        missing subdirs). `minus` anti-joins rows out of the snapshot on
        `minus_key` — the delete path of the Iceberg analogy
        (row-level DELETE becomes a rewrite here; used by seen-set
        retirement). Returns the snapshot round, or None if there is
        nothing to compact."""
        last = self.last_round()
        if last is None:
            return None
        df = self.read_union(spark, name, upto=last)
        if partition_by is None and "_ub" in df.columns:
            # the deltas are disk-seen bucketed: a FLAT snapshot would be
            # invisible to the task-side bucket probe (silent re-enqueue
            # of seen URLs) — always preserve the layout
            partition_by = ["_ub"]
        if minus is not None:
            df = df.join(minus.select(minus_key), minus_key, "left_anti")
        if num_files:
            df = df.coalesce(num_files)
        # never overwrite the committed snapshot this one reads from:
        # the deltas it covers may already be vacuumed
        prev = self._snapshot(name)
        seq = prev[1] + 1 if prev is not None and prev[0] == last else 0
        vdir = os.path.join(self._cdir(name),
                            f"v={last:04d}" + (f".{seq}" if seq else ""))
        if os.path.exists(vdir):  # crashed previous attempt
            shutil.rmtree(vdir)
        w = df.write.mode("overwrite")
        if partition_by:  # preserve e.g. the disk-seen _ub bucketing so
            w = w.partitionBy(*partition_by)  # bucket-pruned reads survive
        w.parquet(os.path.join(vdir, "data"))
        mtmp = os.path.join(vdir, "._COMMITTED.tmp")
        open(mtmp, "w").close()
        os.replace(mtmp, os.path.join(vdir, "_COMMITTED"))
        if vacuum:
            for r in self.committed_rounds():
                if r <= last:
                    tdir = os.path.join(self._rdir(r), name)
                    if os.path.exists(tdir):
                        shutil.rmtree(tdir)
            # older snapshots are fully covered by the new one
            for d in os.listdir(self._cdir(name)):
                if d.startswith("v=") and os.path.join(self._cdir(name), d) != vdir:
                    shutil.rmtree(os.path.join(self._cdir(name), d))
        return last

    def table_paths(self, name: str, upto: int | None = None) -> list[str]:
        """Committed table dirs for `name` (compaction snapshot first if
        one covers a prefix of the rounds, then post-snapshot deltas) —
        the path set read_union scans, exposed for consumers that read
        files task-side (the disk-backed seen anti-join)."""
        rs = self.committed_rounds()
        if upto is not None:
            rs = [r for r in rs if r <= upto]
        paths = []
        snap = self._snapshot(name)
        if snap is not None and (upto is None or snap[0] <= upto):
            paths.append(os.path.join(snap[2], "data"))
            rs = [r for r in rs if r > snap[0]]
        paths += [os.path.join(self._rdir(r), name) for r in rs
                  if os.path.exists(os.path.join(self._rdir(r), name))]
        return paths

    def read_union(self, spark: SparkSession, name: str, upto: int | None = None) -> DataFrame:
        """Union of table `name` across committed rounds (e.g. the full
        seen set = union of seen_delta). Parquet reads many dirs in one
        scan — no driver-side loop over rows. If a compaction snapshot
        covers a prefix of the requested rounds, it replaces those
        rounds' deltas in the scan."""
        paths = self.table_paths(name, upto)
        if not paths:
            raise FileNotFoundError(f"no committed '{name}' tables under {self.root}")
        # one dir per read: a single multi-path scan cannot partition-
        # discover several partitioned roots (Spark KD009 "conflicting
        # directory structures" for the disk-seen _ub= layout);
        # allowMissingColumns unions flat and bucketed dirs (the bucket
        # column is null for flat rows)
        dfs = [spark.read.parquet(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
