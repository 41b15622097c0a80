"""Checkpointed table store — the Iceberg-snapshot protocol on parquet.

The reference checkpoints scheduler state to ``crawler_state.json``
(``src/scrapers/scheduler.py:568-615``) and writes one CrawlLog row per
job (``scheduler.py:392-399,443-450``).  The rebuild's durable state is
a set of *round-partitioned tables*; a round is visible only after its
manifest commit, which is a single atomic rename — the parquet-path
equivalent of an Iceberg snapshot commit.

Protocol:
  * writers write ``{root}/{table}/round={r}`` (Spark parquet dirs);
  * ``commit_round(r, stats)`` writes ``{root}/_manifests/round-{r}.json``
    via tmp-file + ``os.rename`` (atomic on POSIX);
  * readers only read rounds with a manifest — a crash mid-round leaves
    orphan data dirs that the next run overwrites idempotently
    (``mode="overwrite"`` per round dir), giving exactly-once resume;
  * ``last_committed_round()`` drives resume: re-run starts at r+1 with
    the frontier snapshot committed at r.

On a real cluster the same class is backed by Iceberg
(``writeTo(...).overwritePartitions()`` + snapshot ids); the seam is
this module only — the crawler never touches paths directly.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class RoundStore:
    TABLES = ("articles", "seen", "frontier", "crawl_logs")

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)

    # --- write side ----------------------------------------------------

    def write_round(
        self, table: str, round_id: int, df: DataFrame, partitions: int | None = None
    ) -> None:
        """``partitions`` REPARTITIONS (round-robin shuffle) before the
        write.  Never coalesce here: ``coalesce`` collapses the whole
        narrow upstream segment to the target parallelism — a
        ``coalesce(8)`` after extraction silently runs extraction
        8-wide on a 32-core cluster.  The repartition shuffle only moves
        the (small) delta rows and keeps compute at full width."""
        path = self._round_path(table, round_id)
        if partitions is not None:
            df = df.repartition(partitions)
        df.write.mode("overwrite").parquet(path)

    def write_round_small(self, table: str, round_id: int, df: DataFrame) -> None:
        """Driver-side write for TINY bounded relations (metrics/lineage
        rollups: ≤ partitions × statuses rows per round).

        A distributed ``repartition(1)`` write of such a relation is the
        wrong plan cross-JVM: the single write task pulls every shuffle
        block serially through one executor and pays the full Hadoop
        commit protocol — step-timed at 39 s vs 0.8 s local on the
        4-executor bulk round (a 50× step; the round-2 cluster-leg
        collapse).  The aggregate itself is map-side combined and tiny,
        so the scale-correct move is the same one the manifest writes
        use: bring the FINAL rows to the driver (Arrow collect — bounded
        by construction, never row-scaled) and write one parquet file
        atomically.  Readers (``read_rounds``) see an identical table.
        """
        import pyarrow.parquet as pq

        tbl = df.toArrow()
        path = self._round_path(table, round_id)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, ".part-00000.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(path, "part-00000.parquet"))

    def commit_round(self, round_id: int, stats: dict) -> None:
        man_dir = os.path.join(self.root, "_manifests")
        tmp = os.path.join(man_dir, f".round-{round_id}.json.tmp")
        final = os.path.join(man_dir, f"round-{round_id}.json")
        with open(tmp, "w") as f:
            json.dump({"round_id": round_id, **stats}, f)
        os.rename(tmp, final)

    def reset(self) -> None:
        """Drop ALL round data, manifests and blobs — the start of a new
        crawl.  ``initialize()`` calls this: without it, a non-resume
        restart over a store holding committed rounds from an earlier
        crawl leaves those manifests visible, so ``last_committed_round``
        / ``read_rounds`` union stale rounds with the new crawl's."""
        for table in self.TABLES:
            shutil.rmtree(os.path.join(self.root, table), ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "_blobs"), ignore_errors=True)
        man_dir = os.path.join(self.root, "_manifests")
        shutil.rmtree(man_dir, ignore_errors=True)
        os.makedirs(man_dir, exist_ok=True)

    def expire_rounds(self, before: int) -> list[tuple[str, int]]:
        """Retention cleanup — the Iceberg ``expire_snapshots`` analog:
        drop the data dirs AND manifests of committed rounds older than
        ``before`` (strictly ``round_id < before``), including any
        versioned ``{table}@v{n}`` migration rewrites and their
        markers.  Readers of surviving rounds are unaffected
        (``read_rounds`` unions only dirs that exist); time travel to
        an expired round is gone by design — that is what retention
        means.  ``last_committed_round`` is preserved (it takes the
        max) so resume semantics don't shift.  Idempotent: expired
        rounds simply aren't found again.  Returns the removed
        (table, round_id) list for the caller's audit log.

        Round -1 (the reserved frontier-init commit) is never expired:
        it is the crawl's seed snapshot, not a data round.

        ``before`` is CLAMPED to the newest committed round: retention
        may never delete the latest snapshot (that would silently reset
        ``last_committed_round`` to empty and make the next
        resume=True run restart the crawl from scratch — the invariant
        above would be violated exactly when a caller passes an
        over-eager cutoff).
        """
        before = min(before, self.last_committed_round())
        removed: list[tuple[str, int]] = []
        man_dir = os.path.join(self.root, "_manifests")
        for entry in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, entry)
            if entry.startswith("_") or not os.path.isdir(tdir):
                continue
            for sub in sorted(os.listdir(tdir)):
                if not sub.startswith("round="):
                    continue
                r = int(sub.split("=", 1)[1])
                if -1 < r < before:
                    shutil.rmtree(os.path.join(tdir, sub))
                    removed.append((entry, r))
        for n in sorted(os.listdir(man_dir)):
            r = None
            if n.startswith("round-") and n.endswith(".json"):
                r = int(n[len("round-") : -len(".json")])
            elif n.startswith("mig-") and n.endswith(".json"):
                r = int(n.rsplit("-round-", 1)[1][: -len(".json")])
            if r is not None and -1 < r < before:
                os.remove(os.path.join(man_dir, n))
        return removed

    def rollback_uncommitted(self, last_good: int) -> None:
        """Drop any round dirs newer than the last committed manifest."""
        for table in self.TABLES:
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if entry.startswith("round="):
                    r = int(entry.split("=", 1)[1])
                    if r > last_good:
                        shutil.rmtree(os.path.join(tdir, entry))

    # --- read side -----------------------------------------------------

    def last_committed_round(self) -> int:
        man_dir = os.path.join(self.root, "_manifests")
        rounds = [
            int(n[len("round-") : -len(".json")])
            for n in os.listdir(man_dir)
            if n.startswith("round-") and n.endswith(".json")
        ]
        # -2 = empty store (manifest -1 is reserved for frontier init)
        return max(rounds, default=-2)

    def manifest(self, round_id: int) -> dict:
        with open(os.path.join(self.root, "_manifests", f"round-{round_id}.json")) as f:
            return json.load(f)

    def read_rounds(
        self, spark: SparkSession, table: str, upto: int | None = None
    ) -> DataFrame | None:
        """Union of all committed round partitions of ``table``.

        Starts at round -1: the seed-frontier init commits under that
        reserved id (``crawler.initialize``), and the generic union must
        see it — only the frontier table ever has a ``round=-1`` dir, so
        for the other tables the isdir guard skips it."""
        if upto is None:
            upto = self.last_committed_round()
        paths = [
            self._round_path(table, r)
            for r in range(-1, upto + 1)
            if os.path.isdir(self._round_path(table, r))
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def read_round(self, spark: SparkSession, table: str, round_id: int) -> DataFrame | None:
        path = self._round_path(table, round_id)
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path)

    def _round_path(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, table, f"round={round_id}")
