"""The benchmark's three closed-loop workloads.

Each workload drives the package only through its public calls. The
runner (run.py) times every op, tags it with a Spark job group and,
after the timed loop, asks the workload to verify what it produced
against an independent computation (DuckDB or a pandas replay).

Interface:
    prepare(spark)     fresh state; part of the measured set-up
    warmup()           optional; run once after the set-ups, and timed
    ops()              endless iterator of (kind, zero-arg callable);
                       `primary` ops carry the latency metrics
    boundary()         True when stopping here leaves a whole cycle
    instrument(tr)     wrap the live instances in spans (traced run)
    verify(records)    ids of the ops whose outputs were wrong
    counters()         per-layer counts gathered at the call boundaries
    files_now(), amplification(before)
                       write and space amplification (lake_cdc only)
"""

from __future__ import annotations

import math
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen

ROSTER = (
    "ann_ivfpq_topk cosine_topk_pq embedding_incremental_near_dup_bucketed "
    "training_data_pipeline pagerank dedup_minhash_lsh fuzzy_contamination "
    "tfidf_top_terms"
).split()


def dir_files(root: str) -> dict:
    """{path: size} of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive row-set equality; floats compared to 1e-9
    relative (sums run in a different order in Spark and DuckDB)."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(want.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, float) or isinstance(y, float):
                if not (x == y or math.isclose(float(x), float(y), rel_tol=1e-9)):
                    return False
            elif x != y:
                return False
    return True


class Workload:
    name = ""
    scale = 1.0
    span_prefix = "op."

    def __init__(self, seed: int, data_dir: str, work: str, inject: bool = False):
        self.seed = seed
        self.data_dir = data_dir
        self.work = work
        self.inject = inject
        self.tracer = None

    def warmup(self) -> None:
        pass

    def boundary(self) -> bool:
        return True

    def instrument(self, tracer) -> None:
        self.tracer = tracer

    def counters(self) -> dict:
        return {}

    def files_now(self) -> dict:
        return {}

    def amplification(self, files_before: dict):
        return None

    def _span(self, name):
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext()
        return self.tracer.span(name)


# ---------------------------------------------------------------------------
class EtlPipelines(Workload):
    """One op = one `PipelineRunner.run` of a seeded config."""

    name = "etl_pipelines"
    scale = 10.0

    def prepare(self, spark):
        from data_pipeline_platform_spark.plans.runner import PipelineRunner
        from data_pipeline_platform_spark.sinks.writers import BatchWriter
        from data_pipeline_platform_spark.sources.readers import register_views

        self.spark = spark
        self.warehouse = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        register_views(spark, self.data_dir, ("orders", "customer", "events"))
        self.runner = PipelineRunner(spark, BatchWriter(spark, base_path=self.warehouse))
        self.done = []  # (op index, config, oracle sql, keys)
        self.pos = 0
        self.tracer = None
        self.count = {"rows_written": 0, "bytes_written": 0, "files_written": 0}

    def ops(self):
        i = 0
        while True:
            cfg, oracle, keys = gen.pipeline_config(self.seed, i, self.data_dir)
            self.pos = i + 1
            yield "pipeline", self._op(i, cfg, oracle, keys), True
            i += 1

    def boundary(self):
        return self.pos % gen.PIPELINE_CYCLE == 0

    def _op(self, i, cfg, oracle, keys):
        def run():
            table_dir = self._table_dir(cfg["persistence"]["table"])
            before = dir_files(table_dir) if self.tracer else None
            res = self.runner.run(cfg, pipeline_id=f"p{i}")
            self.done.append((i, cfg, oracle, keys))
            if res["status"] != "success":
                raise RuntimeError(res.get("error"))
            if self.tracer:
                after = dir_files(table_dir)
                new = {p: s for p, s in after.items() if p not in before}
                self.count["rows_written"] += res["row_count"]
                self.count["bytes_written"] += sum(new.values())
                self.count["files_written"] += sum(1 for p in new if p.endswith(".parquet"))
            return res["row_count"]

        return run

    def _table_dir(self, table):
        return os.path.join(self.warehouse, "default", table)

    def instrument(self, tracer):
        self.tracer = tracer
        r = self.runner
        tracer.wrap(r, "run", "plans.runner.run")
        for stage in ("ingest_stage", "transform_stage", "persist_stage"):
            tracer.wrap(r, stage, f"plans.runner.{stage}")
        for m in ("ingest", "read_parquet"):
            tracer.wrap(r.ingestor, m, "sources.readers")
        tracer.wrap(r.sql_transformer, "transform", "operators.sql")
        tracer.wrap(r.config_transformer, "transform", "operators.config")
        tracer.wrap(r.code_transformer, "transform", "operators.code")
        tracer.wrap(r.writer, "write",
                    lambda df, table, strategy=None, **kw: f"sinks.writers.{strategy.value}")

    def counters(self):
        return {f"sinks.writers.{k}": v for k, v in self.count.items()}

    def verify(self, records):
        """Replay every executed config in DuckDB, strategy by strategy,
        and compare each target table with what Spark persisted."""
        con = duckdb.connect()
        want, writers = {}, {}
        for k, (i, cfg, oracle, keys) in enumerate(self.done):
            p = cfg["persistence"]
            rows = con.execute(oracle).df()
            cur = want.get(p["table"])
            if p["strategy"] == "replace" or cur is None:
                cur = rows
            elif p["strategy"] == "upsert":
                hit = cur.set_index(keys).index.isin(rows.set_index(keys).index)
                cur = pd.concat([cur[~hit], rows[cur.columns]], ignore_index=True)
            else:
                cur = pd.concat([cur, rows[cur.columns]], ignore_index=True)
            want[p["table"]] = cur
            writers.setdefault(p["table"], []).append(k)
        bad = set()
        for table, rows in want.items():
            got = self.spark.read.parquet(self._table_dir(table)).toPandas()
            if self.inject and table == min(want):
                rows = rows.iloc[1:]
            if not frames_equal(got, rows):
                bad.update(writers[table])
        return {records[k]["op"] for k in bad}


# ---------------------------------------------------------------------------
class LakeCdc(Workload):
    """`orders` in an AcidTable over key-clustered files, a maintained
    per-customer view, and a stream of seeded CDC batches. Write ops
    (merge+fold, key-range delete+fold, compaction) are the primary ops;
    the reads between batches are timed as their own kind."""

    name = "lake_cdc"
    scale = 2.0
    files = 8
    batch_rows = 300
    delete_every = 3
    MIN_ROUNDS = 2
    KEY = "o_orderkey"

    def prepare(self, spark):
        import pyspark.sql.functions as F

        from data_pipeline_platform_spark.sinks.acid import AcidTable
        from data_pipeline_platform_spark.sinks.matview import MaterializedAgg
        from data_pipeline_platform_spark.sources.readers import load_table

        self.spark = spark
        self.tracer = None
        root = os.path.join(self.work, "lake")
        shutil.rmtree(root, ignore_errors=True)
        self.table_dir = os.path.join(root, "orders")
        self.view_dir = os.path.join(root, "orders_by_cust")
        self.batch_dir = os.path.join(self.work, "cdc", f"seed{self.seed}")
        os.makedirs(self.batch_dir, exist_ok=True)
        base = gen.lake_base(pq.read_table(os.path.join(self.data_dir, "orders.parquet")))
        self.n_base = base.num_rows
        self.n_cust = pq.ParquetFile(os.path.join(self.data_dir, "customer.parquet")).metadata.num_rows
        self.replay = {1: base.to_pandas().set_index(self.KEY)}
        self.table = AcidTable(spark, self.table_dir)
        df = (load_table(spark, self.data_dir, "orders")
              .withColumn("o_orderdate", F.to_date("o_orderdate"))
              .withColumn("o_total_cents", F.round(F.col("o_totalprice") * 100).cast("long"))
              .repartitionByRange(self.files, self.KEY))
        self.table.write(df, stats_cols=[self.KEY], binpack=False)
        # "small" = under the smallest base file: the files insert
        # bursts add (and files deletes shrink), not the key-range files
        self.small_bytes = min(os.path.getsize(a["path"]) for a in self.table.snapshot_files())
        self.view = MaterializedAgg(spark, self.view_dir, ["o_custkey"], [
            ("n", "count", None), ("total_cents", "sum", "o_total_cents"),
            ("max_cents", "max", "o_total_cents")])
        self.view.update(self.table.read())
        self.reads = []  # per read op: (kind, version, args, result), None if it raised
        self.batch_bytes = 0
        self.count = {"files_scanned": 0, "files_pruned": 0, "files_rewritten": 0,
                      "groups_touched": 0}
        self.i = 0

    # -- the client loop ------------------------------------------------
    def ops(self):
        """Per batch: the batch, the reads, then the delete or compaction
        due after it. The schedule repeats every 4 batches; stopping
        only at the end of such a round keeps the op mix the same for
        every seed and every stopping time. At least MIN_ROUNDS rounds
        run, so the median rests on a dozen write ops."""
        while True:
            i = self.i
            cycle = [("batch", self._batch(i), True), *self._reads(i)]
            if i % self.delete_every == self.delete_every - 1:
                cycle.append(("delete", self._delete(i), True))
            if i % 4 == 2:  # after the second insert burst of gen.cdc_new_keys
                cycle.append(("compact", self._compact(), True))
            for j, op in enumerate(cycle):
                self.round_end = (j == len(cycle) - 1 and i % 4 == 3
                                  and i >= 4 * self.MIN_ROUNDS - 1)
                yield op
            self.i += 1

    def boundary(self):
        return self.round_end

    def _batch_file(self, i):
        path = os.path.join(self.batch_dir, f"batch_{i:05d}.parquet")
        if not os.path.exists(path):
            t = gen.cdc_batch(self.seed, i, self.n_base, self.n_cust, self.batch_rows)
            pq.write_table(t, path + ".tmp")
            os.replace(path + ".tmp", path)
        return path

    def _fold(self, v_before):
        v = self.table.latest_version()
        if v == v_before:
            return v
        feed = self.table.changes([self.KEY], v_before, v)
        stats = self.view.update_changes(feed, snapshot=self.table.read(version=v))
        self.count["groups_touched"] += stats.get("groups_touched", 0)
        return v

    def _batch(self, i):
        path = self._batch_file(i)

        def run():
            src = self.spark.read.parquet(path)
            v0 = self.table.latest_version()
            stats = self.table.merge(src, keys=[self.KEY])
            for k in ("files_scanned", "files_pruned", "files_rewritten"):
                self.count[k] += stats.get(k, 0)
            v = self._fold(v0)
            self.batch_bytes += os.path.getsize(path)
            self._log_version(v, ("upsert", path))
            return v

        return run

    def _delete(self, i):
        lo, hi = gen.cdc_delete_range(self.seed, i, self.n_base, self.batch_rows // 2)

        def run():
            v0 = self.table.latest_version()
            stats = self.table.delete(f"{self.KEY} BETWEEN {lo} AND {hi}")
            self.count["files_rewritten"] += stats.get("files_rewritten", 0)
            v = self._fold(v0)
            self._log_version(v, ("delete", lo, hi))
            return v

        return run

    def _compact(self):
        def run():
            self.table.compact_small(small_bytes=self.small_bytes)
            v = self.table.latest_version()
            self._log_version(v, ("same",))
            return v

        return run

    def _log_version(self, v, change):
        last = max(self.replay)
        if v == last:
            return
        self.replay[v] = change

    def _reads(self, i):
        import pyspark.sql.functions as F

        agg = (F.count(F.lit(1)).alias("n"), F.sum("o_total_cents").alias("cents"))

        def lookup():
            v = self.table.latest_version()
            keys = gen.lookup_keys(
                self.seed, i, gen.cdc_next_key(self.n_base, i + 1, self.batch_rows))
            rows = self.table.point_lookup(self.KEY, keys).toPandas()
            if self.tracer:
                _, pruned = self.table.lookup_files(self.KEY, keys)
                self.count["files_scanned"] += len(self.table.snapshot_files())
                self.count["files_pruned"] += pruned
            self.reads.append(("lookup", v, keys, rows))

        def snapshot():
            v = self.table.latest_version()
            r = self.table.read().agg(*agg).collect()[0]
            self.reads.append(("agg", v, None, (r["n"], r["cents"])))

        def time_travel():
            v = max(1, self.table.latest_version() - 3)
            r = self.table.read(version=v).agg(*agg).collect()[0]
            self.reads.append(("agg", v, None, (r["n"], r["cents"])))

        def view():
            v = self.table.latest_version()
            custs = gen.lookup_keys(self.seed, i, self.n_cust)
            rows = self.view.read(drop_empty_on="n").filter(F.col("o_custkey").isin(custs)).toPandas()
            self.reads.append(("view", v, custs, rows))

        def logged(fn):
            def run():
                n = len(self.reads)
                try:
                    fn()
                finally:
                    if len(self.reads) == n:
                        self.reads.append(None)

            return run

        return [(kind, logged(fn), False) for kind, fn in (
            ("read_lookup", lookup), ("read_snapshot", snapshot),
            ("read_time_travel", time_travel), ("read_view", view))]

    # -- tracing --------------------------------------------------------
    def instrument(self, tracer):
        self.tracer = tracer
        for tbl in (self.table, self.view.acid):
            for m in ("merge", "delete", "compact_small", "read", "point_lookup", "changes"):
                tracer.wrap(tbl, m, f"sinks.acid.{m}")
        tracer.wrap(self.view, "update_changes", "sinks.matview.update")
        tracer.wrap(self.view, "read", "sinks.matview.read")

    def counters(self):
        c = self.count
        scanned = c["files_scanned"]
        return {
            "sinks.acid.files_scanned": scanned,
            "sinks.acid.files_pruned": c["files_pruned"],
            "sinks.acid.files_rewritten": c["files_rewritten"],
            "sinks.acid.prune_ratio": c["files_pruned"] / scanned if scanned else 0.0,
            "sinks.matview.groups_touched": c["groups_touched"],
            "sinks.acid.live_files": len(self.table.snapshot_files()),
        }

    # -- amplification --------------------------------------------------
    def amplification(self, files_before: dict) -> dict:
        """write_amp: bytes of files created under the table and view
        during the loop / bytes of the CDC batch files applied.
        space_amp: live snapshot bytes / one compacted copy."""
        after = self.files_now()
        written = sum(s for p, s in after.items() if p not in files_before)
        live = sum(os.path.getsize(a["path"]) for a in self.table.snapshot_files())
        copy_dir = os.path.join(self.work, "lake", "compacted_copy")
        shutil.rmtree(copy_dir, ignore_errors=True)
        self.table.read().coalesce(1).write.parquet(copy_dir)
        one = sum(s for p, s in dir_files(copy_dir).items() if p.endswith(".parquet"))
        shutil.rmtree(copy_dir, ignore_errors=True)
        return {
            "bytes_written": written,
            "write_amp": written / self.batch_bytes if self.batch_bytes else 0.0,
            "space_amp": live / one if one else 0.0,
        }

    def files_now(self) -> dict:
        return {**dir_files(self.table_dir), **dir_files(self.view_dir)}

    # -- verification ---------------------------------------------------
    def _states(self):
        """Replay the logged changes: {version: expected snapshot}."""
        versions = sorted(self.replay)
        cur = self.replay[versions[0]]
        out = {versions[0]: cur}
        for v in versions[1:]:
            change = self.replay[v]
            if change[0] == "upsert":
                b = pq.read_table(change[1]).to_pandas().set_index(self.KEY)
                cur = pd.concat([cur[~cur.index.isin(b.index)], b[cur.columns]])
            elif change[0] == "delete":
                cur = cur[(cur.index < change[1]) | (cur.index > change[2])]
            out[v] = cur
        return out

    def verify(self, records):
        states = self._states()
        versions = sorted(states)

        def at(v):
            return states[max(x for x in versions if x <= v)]

        bad_reads = []
        for n, entry in enumerate(self.reads):
            if entry is None:
                continue  # the op raised and already counts as failed
            kind, v, args, got = entry
            want = at(v)
            if kind == "agg":
                ok = got == (len(want), int(want["o_total_cents"].sum()))
            elif kind == "lookup":
                exp = want[want.index.isin(args)].reset_index()
                ok = frames_equal(got, exp[list(got.columns)])
            else:
                sub = want[want["o_custkey"].isin(args)]
                exp = sub.groupby("o_custkey").agg(
                    n=("o_total_cents", "size"), total_cents=("o_total_cents", "sum"),
                    max_cents=("o_total_cents", "max")).reset_index()
                ok = frames_equal(got[list(exp.columns)], exp)
            if not ok:
                bad_reads.append(n)
        final = states[versions[-1]].reset_index()
        got = self.table.read().toPandas()
        if self.inject:
            final = final.iloc[1:]
        writes_ok = frames_equal(got[sorted(final.columns)], final[sorted(final.columns)])
        view = self.view.read(drop_empty_on="n").toPandas()
        exp = final.groupby("o_custkey").agg(
            n=("o_total_cents", "size"), total_cents=("o_total_cents", "sum"),
            max_cents=("o_total_cents", "max")).reset_index()
        view_ok = frames_equal(view[list(exp.columns)], exp)
        read_ops = [r for r in records if r["kind"].startswith("read_")]
        bad = {read_ops[n]["op"] for n in bad_reads if n < len(read_ops)}
        if not (writes_ok and view_ok):
            bad.update(r["op"] for r in records if not r["kind"].startswith("read_"))
        return bad


# ---------------------------------------------------------------------------
class CurationQueries(Workload):
    """One op = one registered curation query written to the `noop`
    sink. Every cycle runs the whole roster in a seeded order."""

    name = "curation_queries"
    scale = 1.0
    span_prefix = "functions."

    def prepare(self, spark):
        from data_pipeline_platform_spark.queries import all_queries

        self.spark = spark
        self.tracer = None
        self.queries = all_queries()
        self.bad = set()
        self.tracked_peak = 0
        self.pos = 0

    def warmup(self):
        """Run every roster query once and check it against its DuckDB
        oracle with tools/parity.py's canonicalisation. This is both the
        verification (the timed ops write to `noop`, so they have no
        output to check) and the warm-up that keeps first-run code
        generation and Python worker start-up (1.3-2x a steady run) out
        of the timed cycles."""
        import sys

        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        import parity

        from data_pipeline_platform_spark.queries import all_oracles
        from data_pipeline_platform_spark.utils.cache import release_tracked

        oracles = all_oracles()
        con = parity.duck_con(self.data_dir)
        for name in ROSTER:
            got = self.queries[name](self.spark, self.data_dir).toPandas()
            release_tracked()
            want = con.execute(oracles[name]).df()
            if self.inject and name == ROSTER[0]:
                want = want.iloc[1:]
            if parity.compare(name, got, want):
                self.bad.add(name)

    def ops(self):
        rng = np.random.default_rng([self.seed, 5])
        while True:
            for j in rng.permutation(len(ROSTER)):
                self.pos += 1
                yield ROSTER[j], self._op(ROSTER[j]), True

    def boundary(self):
        return self.pos % len(ROSTER) == 0

    def _op(self, name):
        from data_pipeline_platform_spark.utils.cache import release_tracked, tracked_count

        def run():
            try:
                with self._span(f"functions.{name}.build"):
                    df = self.queries[name](self.spark, self.data_dir)
                with self._span(f"functions.{name}.action"):
                    df.write.format("noop").mode("overwrite").save()
            finally:
                self.tracked_peak = max(self.tracked_peak, tracked_count())
                with self._span("utils.cache.release_tracked"):
                    release_tracked()

        return run

    def counters(self):
        return {"utils.cache.tracked_peak": self.tracked_peak}

    def verify(self, records):
        return {r["op"] for r in records if r["kind"] in self.bad}


WORKLOADS = {w.name: w for w in (EtlPipelines, LakeCdc, CurationQueries)}
