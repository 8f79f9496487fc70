"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with a JSON config as its only argument; writes its
result as JSON to ``config["out"]``. The run is a closed loop with one
client: steps run serially, and the next starts once the previous result
is fully materialized (every row and column collected to the driver, or,
for an ETL step, written, read back and collected).

1. Set-up: imports, ``session.get_spark``, ``load_table`` for every table
   of the workload. ``setup_s`` runs from the moment ``run.py`` started
   this process.
2. Cold pass: the first pass in the fresh JVM. Its results are the run's
   verified executions.
3. Correctness gate (untimed): every verified result is compared with its
   DuckDB oracle through ``verify.compare_spark_duckdb``; a dedup workload
   also checks recall of the planted near-duplicate pairs.
4. WARMUP_PASSES untimed warm passes, then measured warm passes until
   ``seconds`` have passed and at least MIN_WARM_PASSES ran. Every
   execution's fingerprint must equal its verified execution's.
5. A traced run measures one traced pass instead (one job group per build
   and per execution, read from Spark's status tracker) and then probes
   each engine layer on the full generated tables; the end-to-end figures
   come from untraced runs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from fingerprint import fingerprint
from gen import load_planted
from spans import Tracer
from workloads import MIN_PLANTED_RECALL, WORKLOADS

QUERY_TIMEOUT_S = 60.0
# Passes after the cold one that warm the JVM (class loading, JIT) before
# the measured window opens; their results are checked but not timed.
WARMUP_PASSES = 2
# An untraced run measures at least this many warm passes, so its figures
# are medians that one disturbed pass cannot move.
MIN_WARM_PASSES = 3

BM25_PROBE_QUERIES = [(1, "spark join"), (2, "vector window scan")]


class Collected:
    """A materialized result in the shape ``verify.compare_spark_duckdb``
    reads (``columns`` and ``collect()``), so the oracle check compares the
    very rows that were timed instead of executing the query again."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile,
    at or above the median, that has at least ten samples beyond it; the
    maximum when there are too few samples for one (fewer than 20)."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, 0
    rank = n - 10  # 1-based rank of the value with 10 samples above it
    return s[rank - 1], 100.0 * rank / n, 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def log(msg: str) -> None:
    print(f"perfbench[{time.strftime('%H:%M:%S')}]: {msg}", file=sys.stderr, flush=True)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (this process by default) and
    every process descended from it, plus their exited children: the
    worker, the Spark JVM, and PySpark's Python daemon and the UDF workers
    it forks (the daemon leaves the process group, so a group is not
    enough)."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.wl = WORKLOADS[cfg["workload"]]
        self.data_dir = cfg["data_dir"]
        self.tmp = cfg["tmp"]
        self.tracer = Tracer(cfg["run_id"], enabled=False)
        self.verified: dict[str, tuple[list[str], list, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.writes: list[tuple[float, int, int]] = []  # (s, files, bytes) per write
        self.step_times: dict[str, list[float]] = {}  # latencies per query
        self.step_cpu: list[float] = []  # CPU seconds per execution

    # ---- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
        from data_algorithms_with_pyspark_spark.session import get_spark
        from data_algorithms_with_pyspark_spark.sources import readers, writers

        self.F, self.readers, self.writers = F, readers, writers
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.cfg['workload']}",
            master=f"local[{self.cfg['cpus']}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                # No hsperfdata file under /tmp: the run writes only in its tmp.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                ),
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        catalog = all_queries()
        self.queries = {name: catalog[name] for name in self.wl.queries}
        for t in self.wl.tables:
            self.readers.load_table(self.spark, self.data_dir, t).schema
        self.setup_s = time.monotonic() - self.cfg["t0"]
        log(f"set-up {self.setup_s:.2f} s (get_spark {self.get_spark_s:.2f} s)")
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in self.wl.tables
        )

    # ---- one step -------------------------------------------------------
    def _cancel(self, *groups: str) -> None:
        for g in groups:
            self.sc.cancelJobGroup(g)

    def _reset(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.spark.catalog.clearCache()

    def _write_read_back(self, df, tag: str) -> tuple[list[str], list]:
        """ETL step: write ``df`` partitioned into four shards, read it back
        through the engine's reader, and collect it."""
        F = self.F
        cols = df.columns
        path = os.path.join(self.tmp, "etl", tag)
        sharded = df.withColumn(
            "shard", F.pmod(F.xxhash64(F.col(f"`{cols[0]}`")), F.lit(4))
        )
        t0 = time.perf_counter()
        with self.tracer.span("sources.writers.write_parquet"):
            self.writers.write_parquet(sharded, path, partition_by=("shard",))
        write_s = time.perf_counter() - t0
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(path)
            for f in names
            if not f.startswith((".", "_"))
        ]
        self.writes.append((write_s, len(files), sum(map(os.path.getsize, files))))
        with self.tracer.span("sources.readers.read_parquet"):
            back = self.readers.read_parquet(self.spark, path).select(
                *[F.col(f"`{c}`") for c in cols]
            )
            return cols, back.collect()

    def step(self, name: str, tag: str):
        """Build and fully materialize one query. Returns (latency, CPU
        seconds, columns, rows), or None when it raised or timed out."""
        q = self.queries[name]
        cpu0 = tree_cpu_s()
        bgroup, egroup = f"{tag}:build", f"{tag}:exec"
        timer = threading.Timer(QUERY_TIMEOUT_S, self._cancel, (bgroup, egroup))
        timer.start()
        self.attempted += 1
        try:
            with self.tracer.span("query", query=name, build_group=bgroup, exec_group=egroup):
                t0 = time.perf_counter()
                self.sc.setJobGroup(bgroup, name, True)
                with self.tracer.span("plans.build"):
                    df = q.fn(self.spark, self.data_dir)
                self.sc.setJobGroup(egroup, name, True)
                with self.tracer.span("plans.exec"):
                    if name in self.wl.etl:
                        cols, rows = self._write_read_back(df, tag)
                    else:
                        cols, rows = df.columns, df.collect()
                latency = time.perf_counter() - t0
        except Exception as exc:  # a failed execution is counted, not fatal
            print(f"perfbench: {name} failed: {exc!r}"[:2000], file=sys.stderr)
            self.failed += 1
            return None
        finally:
            timer.cancel()
            self._reset()
        return latency, tree_cpu_s() - cpu0, cols, rows

    # ---- passes ---------------------------------------------------------
    def run_pass(self, index: int, traced: bool) -> tuple[float, float, dict]:
        """One pass over the workload; returns (wall time, CPU seconds,
        per-layer sums when traced). Per-step latencies and CPU seconds go
        to ``step_times`` and ``step_cpu``. Pass 0 is the cold pass, whose
        results become the verified executions."""
        self.tracer.enabled = traced
        trace0 = self.tracer.overhead_s
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self._traced_load_table(traced), self.tracer.span("pass", index=index) as ps:
            for name in self.wl.queries:
                res = self.step(name, f"p{index}:{name}")
                if res is None:
                    continue
                latency, cpu, cols, rows = res
                self.step_times.setdefault(name, []).append(latency)
                self.step_cpu.append(cpu)
                fp = fingerprint(cols, rows)
                if index == 0:
                    self.verified[name] = (cols, rows, fp)
                elif name not in self.verified or fp != self.verified[name][2]:
                    self.failed += 1
                    self.mismatches.append(f"{name}: pass {index} fingerprint {fp}")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        log(f"pass {index}{' (traced)' if traced else ''} {wall:.2f} s")
        shutil.rmtree(os.path.join(self.tmp, "etl"), ignore_errors=True)
        layer = self._pass_layers(ps, self.tracer.overhead_s - trace0) if traced else {}
        return wall, cpu, layer

    @contextmanager
    def _traced_load_table(self, traced: bool):
        """Wrap ``readers.load_table`` (and every engine module's imported
        binding of it) in a span for the duration of a traced pass."""
        if not traced:
            yield
            return
        orig = self.readers.load_table
        tracer = self.tracer

        def load_table(spark, sf_dir, name):
            with tracer.span("sources.readers.load_table", table=name):
                return orig(spark, sf_dir, name)

        mods = [
            m
            for m in list(sys.modules.values())
            if getattr(m, "__name__", "").startswith("data_algorithms_with_pyspark_spark")
            and getattr(m, "load_table", None) is orig
        ]
        for m in mods:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in mods:
                m.load_table = orig

    def _group_counts(self, group: str) -> tuple[int, int, int, int]:
        """(jobs, stages run, tasks completed, tasks failed) of a job group,
        from Spark's public status tracker."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return jobs, stages, tasks, failed

    def _pass_layers(self, ps: dict, span_overhead_s: float) -> dict:
        """Per-layer sums of one traced pass. ``trace_s`` is what tracing
        cost the pass: span bookkeeping plus the status-tracker reads."""
        tr = self.tracer
        dur = tr.duration
        t0 = time.perf_counter()
        bj = ej = es = et = ef = 0
        for qs in tr.named("query", ps):
            bj += self._group_counts(qs["build_group"])[0]
            j, s, t, f = self._group_counts(qs["exec_group"])
            ej, es, et, ef = ej + j, es + s, et + t, ef + f
        return {
            "load_table_s": sum(dur(s) for s in tr.named("sources.readers.load_table", ps)),
            "build_s": sum(dur(s) for s in tr.named("plans.build", ps)),
            "exec_s": sum(dur(s) for s in tr.named("plans.exec", ps)),
            "build_jobs": bj,
            "exec_jobs": ej,
            "exec_stages": es,
            "exec_tasks": et,
            "failed_tasks": ef,
            "trace_s": span_overhead_s + time.perf_counter() - t0,
        }

    # ---- correctness gate -----------------------------------------------
    def gate(self) -> float:
        """Compare every verified result with its DuckDB oracle; returns
        the time the comparisons took."""
        import duckdb

        from data_algorithms_with_pyspark_spark.schemas import TABLE_NAMES
        from data_algorithms_with_pyspark_spark.verify import compare_spark_duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {self.cfg['cpus']}")
        for t in TABLE_NAMES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        total = 0.0
        for name in self.wl.queries:
            if name not in self.verified:
                self.mismatches.append(f"{name}: no verified execution")
                continue
            cols, rows, _ = self.verified[name]
            oracle = self.queries[name].oracle
            if oracle is None:
                self.mismatches.append(f"{name}: no oracle")
                continue
            t0 = time.perf_counter()
            try:
                compare_spark_duckdb(Collected(cols, rows), con, oracle)
            except AssertionError as exc:
                self.mismatches.append(f"{name}: oracle mismatch: {exc}"[:2000])
            total += time.perf_counter() - t0
        con.close()
        rq = self.wl.planted_recall_query
        if rq is not None and rq in self.verified:
            cols, rows, _ = self.verified[rq]
            found = {(r[cols.index("id_1")], r[cols.index("id_2")]) for r in rows}
            planted = load_planted(self.data_dir)
            recall = len(planted & found) / len(planted)
            if recall < MIN_PLANTED_RECALL:
                self.mismatches.append(f"{rq}: planted-pair recall {recall:.3f}")
        return total

    # ---- layer probes (traced run only) ----------------------------------
    def _materialize(self, df) -> int:
        """Compute every column of every row in Spark; returns the row count."""
        F = self.F
        h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
        return df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).first()[0]

    def _persisted(self, df):
        df = df.persist()
        df.count()
        return df

    def _probe(self, name: str, fn):
        """Time ``fn`` (the operator call plus the materialization of its
        output) in a span called ``name``; returns (seconds, fn's result)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        secs = time.perf_counter() - t0
        log(f"probe {name} {secs:.2f} s")
        return secs, out

    def probes(self) -> dict:
        """Call each layer's public function on an already materialized
        input and materialize its output; returns the per-layer metrics."""
        from data_algorithms_with_pyspark_spark.functions.text_functions import words
        from data_algorithms_with_pyspark_spark.functions.vectors import to_double_array
        from data_algorithms_with_pyspark_spark.operators import (
            asof, bpe, clustering, dedup, merge, similarity, text, windows,
        )
        from data_algorithms_with_pyspark_spark.streaming import events as sev

        F, spark, load = self.F, self.spark, self.readers.load_table
        m: dict[str, float] = {}
        mat = self._materialize

        # Scan rate: load_table plus a full-column materialization of each
        # of the workload's two largest tables.
        size = {
            t: os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in self.wl.tables
        }
        mb = secs = 0.0
        for t in sorted(size, key=size.get)[-2:]:
            mb += size[t] / 1e6
            secs += self._probe(
                "sources.readers.scan", lambda t=t: mat(load(spark, self.data_dir, t))
            )[0]
        m["sources.readers.scan_mb_per_s"] = mb / secs

        planted = load_planted(self.data_dir)
        docs = self._persisted(load(spark, self.data_dir, "documents"))
        sigs = self._persisted(
            dedup.minhash_signatures(docs, num_perm=64, shingle_n=3, hash_fn="md5")
        )
        s, pairs = self._probe(
            "operators.dedup.minhash_candidate_pairs",
            lambda: dedup.minhash_candidate_pairs(
                sigs, bands=16, min_jaccard=0.1, hash_fn="md5"
            ).collect(),
        )
        found = {(r["id_1"], r["id_2"]) for r in pairs}
        m["operators.dedup.minhash_candidate_pairs_s"] = s
        m["operators.dedup.planted_pair_recall"] = len(planted & found) / len(planted)
        hashes = self._persisted(dedup.simhash(docs, hash_fn="md5"))
        s, n_cand = self._probe(
            "operators.dedup.simhash_candidate_pairs",
            lambda: mat(dedup.simhash_candidate_pairs(hashes, n_bits=60)),
        )
        m["operators.dedup.simhash_candidate_pairs_s"] = s
        m["operators.dedup.candidates_per_planted_pair"] = n_cand / len(planted)
        m["operators.text.bm25_topk_s"] = self._probe(
            "operators.text.bm25_topk",
            lambda: mat(text.bm25_topk(docs, BM25_PROBE_QUERIES, k=10)),
        )[0]
        m["operators.text.quality_scores_s"] = self._probe(
            "operators.text.quality_scores", lambda: mat(text.quality_scores(docs))
        )[0]
        vocab = self._persisted(
            bpe.char_vocab(
                docs.select(F.explode(words("text")).alias("term"))
                .groupBy("term")
                .agg(F.count("*").alias("n"))
            )
        )
        m["operators.bpe.bpe_train_s"] = self._probe(
            "operators.bpe.bpe_train", lambda: mat(bpe.bpe_train(vocab, n_merges=4)[1])
        )[0]

        vecs = self._persisted(
            load(spark, self.data_dir, "embeddings").select(
                "vec_id", to_double_array("embedding").alias("vec")
            )
        )
        m["operators.clustering.kmeans_train_s"] = self._probe(
            "operators.clustering.kmeans_train",
            lambda: clustering.kmeans_train(vecs, 8, max_iter=2, tol=0.0, vec_col="vec"),
        )[0]
        codebook = similarity.pq_codebook(vecs, m=8, ksub=16, vec_col="vec")
        encoded = self._persisted(similarity.pq_encode(vecs, codebook, vec_col="vec"))
        qv = vecs.orderBy("vec_id").first()["vec"]
        m["operators.similarity.pq_adc_topk_s"] = self._probe(
            "operators.similarity.pq_adc_topk",
            lambda: mat(similarity.pq_adc_topk(encoded, codebook, qv, k=10)),
        )[0]

        ev = self._persisted(load(spark, self.data_dir, "events"))
        m["operators.windows.sessionize_s"] = self._probe(
            "operators.windows.sessionize", lambda: mat(windows.sessionize(ev, 30))
        )[0]
        clicks = self._persisted(
            ev.where(F.col("event_type") == "click").select(
                "user_id", "ts", F.col("event_id").alias("click_id")
            )
        )
        purchases = self._persisted(
            ev.where(F.col("event_type") == "purchase").select(
                "user_id",
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
        )
        m["operators.asof.asof_join_s"] = self._probe(
            "operators.asof.asof_join",
            lambda: mat(
                asof.asof_join(clicks, purchases, on="user_id", left_ts="ts",
                               right_ts="purchase_ts")
            ),
        )[0]
        leaf = ev.select(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
            F.col("value"),
            (F.col("event_id") % 8 == 0).alias("is_new"),
        )

        def hourly(df):
            return df.groupBy("hour", "event_type").agg(
                F.count("*").alias("n_events"), F.max("value").alias("max_value")
            )

        stored = self._persisted(hourly(leaf.where(~F.col("is_new"))))
        delta = self._persisted(hourly(leaf.where(F.col("is_new"))))
        m["operators.merge.merge_partial_aggs_s"] = self._probe(
            "operators.merge.merge_partial_aggs",
            lambda: mat(
                merge.merge_partial_aggs(stored, delta, keys=["hour", "event_type"],
                                         sum_cols=["n_events"], max_cols=["max_value"])
            ),
        )[0]
        src = os.path.join(self.tmp, "stream_src")
        ev.repartition(1).write.mode("overwrite").parquet(src)

        def stream():
            sev.run_to_memory_sink(
                sev.streaming_hourly_windows(sev.read_events_stream(spark, src)),
                "perfbench_hourly",
            )
            return mat(spark.table("perfbench_hourly"))

        m["streaming.events.run_to_memory_sink_s"] = self._probe(
            "streaming.events.run_to_memory_sink", stream
        )[0]
        self._reset()
        shutil.rmtree(src, ignore_errors=True)
        return m

    # ---- whole run ------------------------------------------------------
    def run(self) -> dict:
        """Cold pass, gate, warm-up, then the measured warm passes. Returns
        the run's result with every figure it measured under ``metrics``;
        ``run.py`` reports the ones BENCHMARK.json declares for the mode."""
        traced_mode = bool(self.cfg["trace"])
        cold_s, _, _ = self.run_pass(0, traced=False)
        t0 = time.perf_counter()
        verify_s = self.gate()
        log(f"gate {time.perf_counter() - t0:.2f} s")
        cold_steps = {k: v[0] for k, v in self.step_times.items()}
        for i in range(WARMUP_PASSES):
            self.run_pass(1 + i, traced=False)
        self.step_times.clear()
        self.step_cpu.clear()
        self.writes.clear()  # cold and warm-up writes are not samples

        # Measured passes until the deadline. A traced run traces a single
        # pass: it reports layer figures, which the end-to-end ones do not
        # rest on.
        walls: list[float] = []
        cpus: list[float] = []
        traced: list[dict] = []
        min_passes = 1 if traced_mode else MIN_WARM_PASSES
        deadline = time.perf_counter() + self.cfg["seconds"]
        while len(walls) < min_passes or (
            not traced_mode and time.perf_counter() < deadline
        ):
            wall, cpu, layer = self.run_pass(
                1 + WARMUP_PASSES + len(walls), traced=traced_mode
            )
            walls.append(wall)
            cpus.append(cpu)
            traced += [layer] if traced_mode else []
        n_warm = len(walls)
        warm_lat = [x for v in self.step_times.values() for x in v]
        tail_s, tail_pct, tail_beyond = tail(warm_lat or [0.0])
        metrics = {
            "setup_s": self.setup_s,
            "cold_pass_s": cold_s,
            "pass_s": median(walls),
            "pass_cpu_s": median(cpus),
            "query_p50_s": median(warm_lat),
            "query_cpu_p50_s": median(self.step_cpu),
            "query_tail_s": tail_s,
            "peak_rss_mb": self.peak_rss_mb(),
            "failed_frac": self.failed / self.attempted,
            "bytes_written_per_input_byte": (
                sum(b for _, _, b in self.writes) / n_warm / self.input_bytes
            ),
        }
        if traced_mode:
            metrics.update(self.layer_metrics(traced, verify_s, n_warm))
            self.tracer.dump(self.cfg["trace_out"])
        info = {
            "warm_passes": n_warm,
            "query_samples": len(warm_lat),
            "query_tail_pct": tail_pct,
            "query_tail_beyond": tail_beyond,
            "cold_query_s": cold_steps,
            "warm_query_p50_s": {k: median(v) for k, v in self.step_times.items()},
        }
        return {
            "correct": not self.mismatches and len(self.verified) == len(self.wl.queries),
            "attempted": self.attempted,
            "failed": self.failed,
            "mismatches": self.mismatches,
            "info": info,
            "metrics": metrics,
        }

    def layer_metrics(self, traced: list[dict], verify_s: float, n_warm: int) -> dict:
        def med(key):
            return median([p[key] for p in traced])

        m = {
            "session.get_spark_s": self.get_spark_s,
            "sources.readers.load_table_s": med("load_table_s"),
            "plans.build_s": med("build_s"),
            "plans.build_share": median(
                [p["build_s"] / (p["build_s"] + p["exec_s"]) for p in traced]
            ),
            "plans.build_jobs": med("build_jobs"),
            "plans.exec_s": med("exec_s"),
            "plans.exec_jobs": med("exec_jobs"),
            "plans.exec_stages": med("exec_stages"),
            "plans.exec_tasks": med("exec_tasks"),
            "plans.failed_tasks": sum(p["failed_tasks"] for p in traced),
            "sources.writers.write_parquet_s": sum(w for w, _, _ in self.writes) / n_warm,
            "sources.writers.files_written": sum(f for _, f, _ in self.writes) / n_warm,
            "sources.writers.bytes_written": sum(b for _, _, b in self.writes) / n_warm,
            "verify.compare_spark_duckdb_s": verify_s,
            "trace.overhead_s": med("trace_s"),
        }
        m.update(self.probes())
        return m

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM, in MB."""
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the driver JVM")


def main() -> None:
    cfg = json.loads(sys.argv[1])
    run = Run(cfg)
    run.setup()
    try:
        result = run.run()
    finally:
        run.spark.stop()
    with open(cfg["out"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
