"""The benchmark's workloads. Each is a closed loop with one client: the
next step starts only after the previous one has returned.

* ``trickle_feed``: many small merge-on-read epochs with one view, the
  outbox, compaction and expiry cadences, one mid-epoch schema drift and
  seeded malformed payloads. After every epoch the client reads the table:
  one key point lookup (hot-repo, deleted and other keys in turn), one
  batch ``in`` lookup and one ``count_rows``.
* ``query_suite``: warm passes over the 12 ``bench.py`` queries with the
  noop sink. The apply path is idle.

A workload is set up by ``prepare`` (inputs and oracle) and ``warmup``
(every path the window times, before it). ``step`` runs one client
operation; ``check`` compares every output with the oracle after the
measured window.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from pyspark.sql import functions as F

from nifi_processors_spark.operators.apply import ChangeApplier
from nifi_processors_spark.plans.table import IceliteTable
from nifi_processors_spark.sources.genlog import GenLogConfig, generate_change_log

from oracle import ChangeLogOracle, query_mismatch

SUITE = ["lww_dedup_events", "cdc_state_events", "rule_counters", "rule_detail_explode",
         "metrics_rollup", "template_render", "exact_dedup", "token_counts", "lang_id",
         "fingerprint", "ann_topk", "minhash_neardup"]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def data_files(path: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")}


class TrickleFeed:
    """One changelog applied epoch by epoch through a merge-on-read
    ``ChangeApplier``, each epoch followed by a read burst.

    Epoch 0 creates the table and epoch 1 is the warmup step: the drift
    (in its middle), the first compaction and the first expiry of both
    kinds all happen there, untimed. In the window every second apply
    compacts and then expires snapshots, and the window ends only after
    such a step (``can_stop``), so its steps are always half plain and
    half compacting whatever their number. Tombstones expire every
    EXPIRE_TOMBSTONES_EVERY applies from the warmup's on, which a short
    window rarely reaches.
    """

    EVENTS_PER_EPOCH = 1_000
    EPOCHS = 14                    # generated; more than a window can apply
    KEYS = 8_000
    N_BUCKETS = 8
    DRIFT_EPOCH = 1                # payload v2 starts in the middle of it
    MALFORMED_PER_MILLE = 5        # truncated payloads among upserts
    COMPACT_EVERY = 2              # applies, the bootstrap epoch included
    EXPIRE_TOMBSTONES_EVERY = 8

    def __init__(self, spark, ws: str, seed: int, tracer):
        self.spark, self.ws, self.seed, self.tracer = spark, ws, seed, tracer
        self.changelog = os.path.join(ws, "changelog")
        self.table_path = os.path.join(ws, "table")
        self.state_dir = os.path.join(ws, "state")
        self.applied = -1          # last applied epoch
        self.steps: list[dict] = []      # timings of the window's steps
        self.lookups: list[tuple] = []   # (epoch, kind, filters, rows)
        self.counts: list[tuple] = []    # (epoch, n)
        self.layer: dict[str, list] = {}  # traced-step probes
        self.failed = 0
        self.attempted = 0
        self.ap = None
        self.oracle = None
        self.published = None  # the outbox's last publish record

    def write_changelog(self) -> None:
        """``GenLogConfig`` output plus the benchmark's own additions: a
        mid-epoch payload drift and a seeded share of truncated (malformed)
        payloads on upserts. The engine only ever sees the written parquet."""
        n = self.EVENTS_PER_EPOCH
        gcfg = GenLogConfig(n_events=n * self.EPOCHS, n_epochs=self.EPOCHS, seed=self.seed,
                            n_keys=self.KEYS, evolve_at_event=self.DRIFT_EPOCH * n + n // 2,
                            content_blocks_max=8)
        bad = (F.col("op") != "D") & (
            F.pmod(F.xxhash64(F.lit(self.seed), "commit_seq", "event_seq"), F.lit(1000))
            < self.MALFORMED_PER_MILLE)
        (generate_change_log(self.spark, gcfg)
         .withColumn("payload_json", F.when(bad, F.substring("payload_json", 1, 24))
                     .otherwise(F.col("payload_json")))
         .write.mode("overwrite").partitionBy("epoch").parquet(self.changelog))

    def prepare(self) -> None:
        self.write_changelog()
        self.oracle = ChangeLogOracle(self.changelog)
        self.input_bytes = dir_bytes(self.changelog)
        keys = self.oracle.keys()
        rng = random.Random(self.seed)
        hot = [k for k in keys if k[0].startswith("hot/")]
        deleted = [k for k in keys if k[2]]
        pools = [hot, deleted, keys]
        self.probe_keys = [rng.choice(pools[i % 3])[:2] for i in range(self.EPOCHS)]
        self.in_paths = [[rng.choice(keys)[1] for _ in range(8)] for _ in range(self.EPOCHS)]
        self.ap = ChangeApplier(
            self.spark, self.table_path, self.changelog, self.state_dir,
            n_buckets=self.N_BUCKETS, merge_mode="mor", compact_every=self.COMPACT_EVERY,
            views={"by_repo": (["repo"], [])}, outbox=True,
            # late events trail by at most 3 epochs, i.e. 3/4 of an
            # epoch's commit_seq span; one epoch of slack covers that
            tombstone_lateness=self.EVENTS_PER_EPOCH)

    def warmup(self) -> None:
        """Epoch 0 creates the table, and the first refresh and publish
        materialise the view and start the outbox. The warm step then runs
        every path the window times (drift, quarantine write, compaction,
        expiry, view refresh, outbox publish, reads) on the same table."""
        self.ap.apply_epoch(0)
        self.ap.refresh_views()
        self.published = self.ap.publish_outbox()
        self.applied = 0
        with self.tracer.span("warm"):
            self.step()
        self.steps.clear()
        self.layer.clear()

    def _probe(self, key: str, value) -> None:
        if self.tracer.enabled:
            self.layer.setdefault(key, []).append(value)

    def step(self) -> bool:
        """Apply the next epoch and make it visible (views, outbox), read
        the table, then run the expiry due after this apply (as
        ``ChangeApplier.run`` does, after the view has read the epoch).
        False when the changelog is used up."""
        epoch = self.applied + 1
        if epoch >= self.EPOCHS:
            return False
        traced = self.tracer.enabled
        if traced:
            with self.tracer.span("probe"), self.tracer.paused():
                files0 = data_files(self.table_path)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("epoch"):
            rec = self.ap.apply_epoch(epoch)
            t1 = time.perf_counter()
            refresh = self.ap.refresh_views()
            pub = self.published = self.ap.publish_outbox()
        t2 = time.perf_counter()
        self.applied = epoch
        if traced:
            for k in ("rows_in", "rows_upserted", "rows_deleted", "rows_corrupt",
                      "affected_buckets"):
                self._probe(f"apply.{k}", rec[k] or 0)
            for r in refresh.values():
                self._probe("ivm.rebuild", 1 if r["mode"] == "rebuild" else 0)
            if pub is not None:
                self._probe("outbox.rows", pub.get("rows", 0))
            with self.tracer.span("probe"), self.tracer.paused():
                new = data_files(self.table_path)
            self._probe("table.bytes_written", sum(v for k, v in new.items() if k not in files0))
        reads = self._read_burst(epoch)
        n = epoch + 1  # applies so far
        if n % self.COMPACT_EVERY == 0:
            with self.tracer.span("maintain"):
                self.ap.maintain(snapshots=True, tombstones=(
                    n - self.COMPACT_EVERY) % self.EXPIRE_TOMBSTONES_EVERY == 0)
        self.steps.append({"events": rec["rows_in"], "apply_s": t1 - t0, "visible_s": t2 - t0,
                           "step_s": time.perf_counter() - t0, **reads})
        return True

    def can_stop(self) -> bool:
        """The window may end only after a compacting apply."""
        return (self.applied + 1) % self.COMPACT_EVERY == 0

    def _lookup(self, kind: str, filters) -> float:
        tbl = IceliteTable(self.spark, self.table_path)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span(f"read.{kind}"):
            rows = tbl.scan(filters).collect()
        sec = time.perf_counter() - t0
        self.lookups.append((self.applied, kind, filters, rows))
        if self.tracer.enabled:
            with self.tracer.span("probe"), self.tracer.paused():
                rep = tbl.scan_report(filters)
            self._probe("table.files_kept_ratio", rep["files_kept"] / max(rep["files_total"], 1))
        return sec

    def _read_burst(self, epoch: int) -> dict:
        """One key point lookup (hot-repo, deleted and other keys in turn),
        one batch ``in`` lookup of 8 paths, one ``count_rows``."""
        repo, path = self.probe_keys[epoch]
        out = {"lookup_s": self._lookup("lookup", [("repo", "=", repo), ("path", "=", path)]),
               "in_lookup_s": self._lookup("in_lookup", [("path", "in", self.in_paths[epoch])])}
        tbl = IceliteTable(self.spark, self.table_path)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("read.count"):
            c = tbl.count_rows()
        out["count_s"] = time.perf_counter() - t0
        self.counts.append((epoch, c))
        return out

    # -- results -------------------------------------------------------

    def e2e(self) -> dict:
        """``work`` events over ``work_s`` seconds of ``apply_epoch``; one
        ``op_s`` per step: apply to visible, the reads and any expiry."""
        return {"work": sum(s["events"] for s in self.steps),
                "work_s": sum(s["apply_s"] for s in self.steps),
                "op_s": [s["step_s"] for s in self.steps]}

    def describe(self) -> dict[str, list[float]]:
        """Timings (s) for the run's text lines, by the names of the engine's docs."""
        return {"epoch_s (apply to visible)": [s["visible_s"] for s in self.steps],
                "lookup_s": [s["lookup_s"] for s in self.steps],
                "in_lookup_s": [s["in_lookup_s"] for s in self.steps],
                "count_s": [s["count_s"] for s in self.steps]}

    def space_amp(self) -> float:
        return dir_bytes(self.table_path) / self.input_bytes

    def sizes(self) -> dict:
        return {"events_per_epoch": self.EVENTS_PER_EPOCH, "epochs_generated": self.EPOCHS,
                "keys": self.KEYS, "n_buckets": self.N_BUCKETS,
                "compact_every": self.COMPACT_EVERY, "input_bytes": self.input_bytes,
                "epochs_applied": self.applied + 1}

    def check(self) -> list[str]:
        errs: list[str] = []
        last = self.applied
        want = self.oracle.state(last)
        got_rows = (self.ap.state()
                    .select("repo", "path", "commit", F.sha2("content", 256).alias("sha"))
                    .collect())
        got = {(r.repo, r.path): (r.commit, r.sha) for r in got_rows}
        if set(got) != set(want):
            errs.append(f"key set differs: {len(set(got) - set(want))} extra, "
                        f"{len(set(want) - set(got))} missing")
        elif got != want:
            bad = sum(1 for k in want if got[k] != want[k])
            errs.append(f"{bad} rows differ in commit or sha256(content)")
        qdir = os.path.join(self.state_dir, "quarantine")
        n_q = self.spark.read.parquet(qdir).count() if os.path.isdir(qdir) else 0
        n_bad = self.oracle.malformed(last)
        if n_q != n_bad or n_bad == 0:
            errs.append(f"quarantine holds {n_q} rows, {n_bad} malformed were injected")
        view = {r.repo: r.n_rows for r in self.ap.view("by_repo").read().collect()}
        if view != self.oracle.group_counts(last, "repo"):
            errs.append("view differs from GROUP BY repo of the final state")
        errs += self._check_outbox()
        states: dict[int, dict] = {last: want}

        def state(epoch):
            if epoch not in states:
                states[epoch] = self.oracle.state(epoch)
            return states[epoch]

        for epoch, kind, filters, rows in self.lookups:
            st = state(epoch)
            if kind == "lookup":
                key = (filters[0][2], filters[1][2])
                exp = {key: st[key]} if key in st else {}
            else:
                paths = set(filters[0][2])
                exp = {k: v for k, v in st.items() if k[1] in paths}
            res = {(r["repo"], r["path"]): (r["commit"], hashlib.sha256(
                r["content"].encode()).hexdigest()) for r in rows}
            if res != exp:
                errs.append(f"{kind} {filters} after epoch {epoch}: {res} != {exp}")
        for epoch, n in self.counts:
            st = state(epoch)
            if n != len(st):
                errs.append(f"count_rows after epoch {epoch}: {n} != {len(st)}")
        return errs

    def _check_outbox(self) -> list[str]:
        """Segments run from the table's birth to the last publish with no
        gap or overlap. Maintenance after that publish is not yet in it."""
        segs = sorted((int(a), int(b)) for _, a, b in
                      (s.split("_") for s in self.ap.outbox.segments()))
        last = self.published["snapshot_id"]
        ptr = (self.ap.outbox.pointer() or {}).get("snapshot_id")
        errs = []
        if not segs or segs[0][0] != 0 or ptr != last or segs[-1][1] != last:
            errs.append(f"outbox segments {segs} do not span 0..{last} (pointer {ptr})")
        for (a0, b0), (a1, b1) in zip(segs, segs[1:]):
            if a1 != b0 or b1 <= a1:
                errs.append(f"outbox segments {a0}_{b0} and {a1}_{b1} are not contiguous")
        return errs


class QuerySuite:
    """Warm noop-sink passes over the 12 suite queries."""

    MIN_PASSES = 3

    def __init__(self, spark, ws: str, seed: int, tracer):
        self.spark, self.ws, self.seed, self.tracer = spark, ws, seed, tracer
        self.data = os.path.join(ws, "qdata")
        self.passes: list[list[float]] = []  # per pass, each query's wall
        self.layer: dict[str, list] = {}
        self.failed = 0
        self.attempted = 0

    def prepare(self) -> None:
        import __spark_entry__ as entry
        import querydata

        self.input_bytes = querydata.write_tables(self.data, self.seed)
        self.queries = {n: entry.queries()[n] for n in SUITE}
        self.oracle_sql = {n: entry.oracle_sql()[n] for n in SUITE}

    def warmup(self) -> None:
        """Checks every query against its oracle once (the results are
        deterministic, so checking before the window is the same check,
        and it is the cold pass), then runs one warm pass, because the JIT
        is still warming after the first."""
        self.errors = self._verify()
        self.step()
        self.passes.clear()

    def can_stop(self) -> bool:
        """The window holds at least MIN_PASSES passes, so that one slow
        pass (the first still carries some JIT warmup) cannot move the
        median."""
        return len(self.passes) >= self.MIN_PASSES

    def step(self) -> bool:
        walls = []
        for name in SUITE:
            self.attempted += 1
            t0 = time.perf_counter()
            with self.tracer.span(f"query.{name}"):
                self.queries[name](self.spark, self.data).write.format("noop").mode(
                    "overwrite").save()
            walls.append(time.perf_counter() - t0)
        self.passes.append(walls)
        return True

    def e2e(self) -> dict:
        """``work`` queries over ``work_s`` seconds of passes; one ``op_s``
        per query run."""
        return {"work": sum(len(p) for p in self.passes),
                "work_s": sum(sum(p) for p in self.passes),
                "op_s": [w for p in self.passes for w in p]}

    def describe(self) -> dict[str, list[float]]:
        return {"suite_s": [sum(p) for p in self.passes]}

    def sizes(self) -> dict:
        import querydata

        return {**querydata.SIZES, "embed_dim": querydata.EMBED_DIM,
                "input_bytes": self.input_bytes, "passes": len(self.passes)}

    def check(self) -> list[str]:
        return self.errors

    def _verify(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for name in ("events", "lineitem", "customer", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{name}.parquet')")
        errs = []
        for name in SUITE:
            bad = query_mismatch(self.queries[name](self.spark, self.data), con,
                                 self.oracle_sql[name])
            if bad:
                errs.append(f"{name}: {bad}")
        con.close()
        return errs


WORKLOADS = {"trickle_feed": TrickleFeed, "query_suite": QuerySuite}
