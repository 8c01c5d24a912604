"""The benchmark's workloads, the op loop and the traced run's probes.

One run: generate inputs from the seed, start the session (JVM launch),
prepare (``report_mix`` writes its namespace), set-up cycles
(session restart + the workload's set-up op; ``setup_s`` is their median),
warm-up, then a closed loop of ops with one client for ``seconds``
(whole passes of the op mix, at least ``MIN_TIMED_OPS`` ops).
Every op is preceded by ``clearCache()`` and followed, outside its timing,
by a check of its output and by its clean-up.

The traced run repeats that sequence with spans on half the ops (the
untraced ones give ``trace.overhead_ratio``) and then runs the layer
probes once, tagged ``probe``, so every per-layer metric exists on every
workload.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from pyspark.sql import functions as F

import gen
import sysmon
from stats import drift_ratio, kind_median_geomean, ratio
from spans import Tracer

from hfsa_spark import get_spark, sinks
from hfsa_spark.extract import fsimage as fsimage_mod
from hfsa_spark.extract import pathmat
from hfsa_spark.operators.inodeinfo import inode_info
from hfsa_spark.operators.pathreport import path_report
from hfsa_spark.operators.smallfiles import small_files_report
from hfsa_spark.operators.summary import summary_report
from hfsa_spark.operators.userusage import user_usage_report

# an ingest cycle (restart + decode, 0.5-1.2 s) is short and its restart
# part alone varies 0.2-0.75 s, so it needs more samples than a report
# cycle (~1.5 s) for a steady median
SETUP_CYCLES = {"fsimage_ingest": 5, "report_mix": 3}
INGEST_WARMUP_OPS = 1
MIN_TIMED_OPS = 2
MIN_PASSES = 1
MIN_TRACED_PASSES = 2  # the traced run traces each kind in one pass of two
NOW_MS = gen.EPOCH_2015_MS + 10 * gen.YEAR_MS  # fixed "now" of userusage

ENTRY_QUERIES = [
    "q01_pricing_summary", "q12_point_lookup", "q20_path_listing",
    "q22_minhash_signatures", "q24_ngram_jaccard", "q48_tfidf_topterms",
    "q55_simhash_neardup", "q118_bigram_logprob", "q131_pagerank",
    "q176_setsim_join", "q184_containment_join", "q191_interdoc_repetition",
]
REPORT_KINDS = ["summary", "smallfiles", "userusage", "path", "inode"]
FORMATS = ["txt", "csv", "json"]


def _build(kind: str, ns, p: dict):
    if kind == "summary":
        return summary_report(ns, dir="/")
    if kind == "smallfiles":
        return small_files_report(ns, dir=p["sf_dir"], limit_bytes=gen.SMALL_LIMIT, persist=True)
    if kind == "userusage":
        return user_usage_report(ns, user=p["user"], now_ms=NOW_MS, dir="/", limit=None)
    if kind == "path":
        return path_report(ns, dirs=p["path_dirs"])
    return inode_info(ns, p["refs"])


def _sink(kind: str, fmt: str, rep, p: dict) -> str:
    if kind == "userusage" and fmt == "txt":
        return sinks.user_usage_txt(rep, user=p["user"], dir="/", limit=20, now_ms=NOW_MS)
    if kind == "path":
        if fmt == "txt":
            return sinks.path_report_txt(rep.listing, dirs=p["path_dirs"])
        return sinks.path_report_csv(rep.listing) if fmt == "csv" else sinks.path_report_json(rep)
    name = {"smallfiles": "small_files", "userusage": "user_usage", "inode": "inode_info"}.get(kind, kind)
    return getattr(sinks, f"{name}_{fmt}")(rep)


# userusage, path and inode in every format they have (inode info has no
# txt sink: the CLI prints it inline); summary and smallfiles, the slow
# scan/aggregate regime, in one format each, so every report and every
# sink runs in each pass.
REPORT_OPS = [
    ("summary", "txt"), ("smallfiles", "csv"),
    ("userusage", "txt"), ("userusage", "csv"), ("userusage", "json"),
    ("path", "txt"), ("path", "csv"), ("path", "json"),
    ("inode", "csv"), ("inode", "json"),
]
KIND_INDEX = {f"{k}/{f}": i for i, (k, f) in enumerate(REPORT_OPS)}
SETUP_OP = ("inode", "csv")  # report_mix set-up: open the namespace, look up inodes
PROBE_REPORTS = [("summary", "txt"), ("smallfiles", "csv"), ("userusage", "json"),
                 ("path", "txt"), ("inode", "json")]


def report_params(seed: int, rows: list[dict]) -> dict:
    """Seeded report arguments: start dirs, a user, inode refs."""
    rng = random.Random(f"report-params:{seed}")
    depth3 = sorted(r["full_path"] for r in rows if r["type"] == "DIRECTORY" and r["full_path"].count("/") == 3)
    files = [r for r in rows if r["type"] == "FILE"]
    picked = rng.sample(files, 5)
    return {
        "sf_dir": "/" + rng.choice("abcdefghijklmnopqrstuvwxyz"),
        "user": gen.USERS[0],  # the most popular owner: files in every dir
        "path_dirs": rng.sample(depth3, 2),
        "refs": [r["full_path"] for r in picked[:3]] + [str(r["id"]) for r in picked[3:]],
        "ref_ids": sorted(r["id"] for r in picked),
    }


def pass_sequence(seed: int, n: int, ops: list) -> list:
    """The order of pass ``n``: a seeded permutation of ``ops``."""
    seq = list(ops)
    random.Random(f"pass:{seed}:{n}").shuffle(seq)
    return seq


def check_totals(observed: tuple, expected: dict, keys: tuple) -> bool:
    return tuple(observed) == tuple(expected[k] for k in keys)


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) of a written table."""
    files = size = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.ops: list[dict] = []  # timed ops: kind, sec, ok, traced, counts
        self.failures: list[str] = []  # every op whose check failed, timed or not
        self.layout: list[tuple[int, int, int]] = []  # (files, bytes, rows)
        self.kind_counts: dict[str, list[dict]] = {}
        self.digests: dict[str, str] = {}
        self.ref: list[float] = []  # reference-loop times, one after each op
        self._seq = 0
        self.kept_ingest: str | None = None
        self._dirs = 0
        self.m: dict[str, float] = {}

    # ------------------------------------------------------------ inputs
    def prepare(self) -> None:
        t0 = time.perf_counter()
        self.img = os.path.join(self.work, "fsimage")
        self.rows = gen.namespace_rows(self.seed)
        self.expected = gen.expected_totals(self.rows)
        self.params = report_params(self.seed, self.rows)
        if self.workload == "fsimage_ingest" or self.trace:
            gen.write_image(self.img, self.rows)
        if self.workload == "report_mix":
            self.ns_src = os.path.join(self.work, "ns_src.parquet")
            gen.write_inodes_source(self.ns_src, self.rows)
        self.m["prep_s"] = time.perf_counter() - t0

    def fresh_dir(self, what: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{what}-{self._dirs}")

    # ---------------------------------------------------------- sessions
    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.range(1).count()
        self.m["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.m["spark.default_parallelism"] = float(sc.defaultParallelism)
        self.jvm_pid = sysmon.jvm_pid(sc._gateway)
        if self.workload == "report_mix":
            t0 = time.perf_counter()
            self.ns_dir = os.path.join(self.work, "namespace")
            pathmat.write_inodes(self.spark.read.parquet(self.ns_src), self.ns_dir)
            files, size = _dir_bytes(self.ns_dir)
            self.layout.append((files, size, self.expected["rows"]))
            self.m["prep_s"] += time.perf_counter() - t0

    def restart(self) -> None:
        self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # --------------------------------------------------------------- ops
    def run_op(self, kind: str, fn, check) -> tuple[float, bool, dict]:
        """One op: clear the cache, run ``fn`` under its own job group
        (timed), then ``check(result)`` and the reference loop (not
        timed)."""
        self.spark.catalog.clearCache()
        self._seq += 1
        group = f"perfbench-op-{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self.tracer.op = self._seq
        out, err = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", kind=kind):
                out = fn()
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            err = ex
            traceback.print_exception(ex, file=sys.stderr)
        sec = time.perf_counter() - t0
        sc.setJobGroup("perfbench-check", "output check")
        counts = sysmon.job_counts(sc, group)
        self.kind_counts.setdefault(kind, []).append(counts)
        ok = False
        if err is None:
            try:
                ok = bool(check(out))
            except Exception as ex:  # noqa: BLE001 — a failed check is counted, not fatal
                err = ex
                traceback.print_exception(ex, file=sys.stderr)
        self.ref.append(sysmon.ref_loop_s())
        if ok:
            print(f"# op {self._seq} {kind} {sec:.3f}s jobs={counts['jobs']} ref={self.ref[-1]:.4f}s")
        else:
            self.failures.append(kind)
            why = f"{type(err).__name__}: {str(err)[:300]}" if err else "wrong output"
            print(f"# op {self._seq} {kind} failed: {why}")
        return sec, ok, counts

    # ingest
    def ingest(self) -> str:
        out = self.fresh_dir("ingest")
        with self.tracer.span("fsimage.load"):
            df = fsimage_mod.load_fsimage(self.spark, self.img)
        with self.tracer.span("layout.write"):
            pathmat.write_inodes(df, out)
        return out

    def open_image(self) -> list[dict]:
        """``fsimage_ingest`` set-up op: decode the image on the driver."""
        return fsimage_mod.parse_fsimage(self.img)

    def check_image(self, rows: list[dict]) -> bool:
        return len(rows) == self.expected["rows"]

    def check_ingest(self, out: str, keep: bool = False) -> bool:
        """Rows, Σ file_size and distinct full paths of the written table,
        read back with pyarrow, equal the generator's; then the table is
        deleted (``keep`` leaves it for the probes, as ``kept_ingest``)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["file_size", "full_path"])
        observed = (t.num_rows, pc.sum(t["file_size"]).as_py(),
                    pc.count_distinct(t["full_path"]).as_py())
        if self.workload == "fsimage_ingest":
            files, size = _dir_bytes(out)
            self.layout.append((files, size, t.num_rows))
        if keep:
            self.kept_ingest = out
        else:
            shutil.rmtree(out, ignore_errors=True)
        return check_totals(observed, self.expected, ("rows", "sum_size", "distinct_paths"))

    # reports
    def report(self, kind: str, fmt: str, ns):
        with self.tracer.span(f"report.{kind}.build"):
            rep = _build(kind, ns, self.params)
        with self.tracer.span(f"report.{kind}.exec", fmt=fmt):
            return rep, _sink(kind, fmt, rep, self.params)

    def check_setup(self, out) -> bool:
        """The set-up op's first output lists exactly the generator's ids
        of the looked-up inodes; later ones repeat it byte for byte."""
        text = out[1]
        if "inode/csv" in self.digests:
            return _digest(text) == self.digests["inode/csv"]
        self.digests["inode/csv"] = _digest(text)
        ids = sorted(int(line.split(",")[0]) for line in text.splitlines()[1:])
        return ids == self.params["ref_ids"]

    def check_summary_totals(self, out) -> bool:
        """Summary totals over "/" equal the generator's."""
        rep, text = out
        o = rep.overall.first()
        return self.record_digest("summary/txt", out) and check_totals(
            (o["sum_files"], o["sum_file_size"], o["sum_blocks"]),
            self.expected, ("files", "sum_size", "blocks"),
        )

    def record_digest(self, key: str, out) -> bool:
        self.digests[key] = _digest(out[1])
        return bool(out[1])

    # ------------------------------------------------------------- phases
    def setup(self) -> None:
        """Set-up cycles, each a session restart then the set-up op. A
        cycle's time excludes the op's output check. The traced run reports
        no ``setup_s`` and makes one cycle."""
        times = []
        for _ in range(1 if self.trace else SETUP_CYCLES[self.workload]):
            t0 = time.perf_counter()
            self.restart()
            if self.workload == "fsimage_ingest":
                before = time.perf_counter() - t0
                sec, _, _ = self.run_op("decode", self.open_image, self.check_image)
            else:
                self.ns = self.spark.read.parquet(self.ns_dir)
                before = time.perf_counter() - t0
                sec, _, _ = self.run_op("inode/csv", lambda: self.report(*SETUP_OP, self.ns),
                                        self.check_setup)
            times.append(before + sec)
        print("# set-up cycles " + " ".join(f"{t:.2f}s" for t in times))
        self.m["setup_s"] = statistics.median(times)

    def warmup(self) -> None:
        if self.workload == "fsimage_ingest":
            for _ in range(INGEST_WARMUP_OPS):
                self.run_op("ingest", self.ingest, self.check_ingest)
            return
        # one pass over every other (kind, format) records the digest each
        # later op with the same arguments must reproduce
        for kind, fmt in REPORT_OPS:
            key = f"{kind}/{fmt}"
            if (kind, fmt) == SETUP_OP:
                continue
            check = self.check_summary_totals if key == "summary/txt" else (
                lambda out, key=key: self.record_digest(key, out))
            self.run_op(key, lambda k=kind, f=fmt: self.report(k, f, self.ns), check)

    def pass_ops(self, n: int) -> list[tuple[str, object, object]]:
        if self.workload == "fsimage_ingest":
            return [("ingest", self.ingest, lambda out: self.check_ingest(out, keep=self.trace))]
        out = []
        for kind, fmt in pass_sequence(self.seed, n, REPORT_OPS):
            key = f"{kind}/{fmt}"
            out.append((
                key,
                lambda k=kind, f=fmt: self.report(k, f, self.ns),
                lambda res, key=key: _digest(res[1]) == self.digests[key],
            ))
        return out

    def timed(self) -> None:
        cpu0, steal0 = sysmon.tree_cpu(), sysmon.host_ticks()
        t0 = time.perf_counter()
        n = 0
        min_passes = MIN_TRACED_PASSES if self.trace else MIN_PASSES
        while True:
            for kind, fn, check in self.pass_ops(n):
                # half the kinds traced in even passes, the other half in odd
                # ones: each kind gets traced and untraced samples, and each
                # pass is half traced, so warm-up drift does not read as
                # tracing overhead
                traced = self.trace and (KIND_INDEX.get(kind, 0) + n) % 2 == 0
                self.tracer.enabled = traced
                sec, ok, counts = self.run_op(kind, fn, check)
                self.ops.append({"kind": kind, "sec": sec, "ok": ok, "traced": traced, **counts})
            self.tracer.enabled = False
            n += 1
            # the loop's wall time, not the ops' own, ends it: ops that fail
            # at once would never add up to ``seconds``
            if (time.perf_counter() - t0 >= self.seconds
                    and len(self.ops) >= MIN_TIMED_OPS and n >= min_passes):
                break
        cpu1, steal1 = sysmon.tree_cpu(), sysmon.host_ticks()
        self.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        self.m["host.steal_ratio"] = ratio(steal1[0] - steal0[0], steal1[1] - steal0[1])
        for kind in sorted({o["kind"] for o in self.ops}):
            secs = [o["sec"] for o in self.ops if o["kind"] == kind]
            print(f"# timed {kind} n={len(secs)} p50={statistics.median(secs):.3f}s")
        self.m["mem.jvm_hwm_mb"] = sysmon.jvm_hwm_mb(self.jvm_pid)

    # ------------------------------------------------------------ probes
    def probes(self) -> None:
        """Each layer once, in isolation, after the timed ops."""
        self.tracer.tag = "probe"
        self.tracer.enabled = True
        exp = self.expected

        # parse_fsimage is wrapped for the traced run: the wrapper records
        # the probe's fsimage.decode span
        self.run_op("probe/decode", lambda: fsimage_mod.parse_fsimage(self.img),
                    lambda rows: len(rows) == exp["rows"])

        def dist():
            with self.tracer.span("fsimage.decode_dist"):
                raw = fsimage_mod.load_fsimage_distributed(
                    self.spark, self.img, scratch_dir=self.fresh_dir("dist")
                ).localCheckpoint(eager=True)
            with self.tracer.span("pathmat.bfs"):
                return pathmat.materialize_paths(raw)

        def check_dist(paths):
            r = paths.agg(F.count(F.lit(1)), F.max("depth")).first()
            self.m["pathmat.levels"] = float(r[1] + 1)
            return r[0] == exp["rows"]

        self.run_op("probe/decode_dist", dist, check_dist)

        if self.workload == "report_mix":
            # its timed ops decode nothing: one ingest op gives the
            # fsimage.load and layout.write spans
            self.run_op("probe/ingest", self.ingest, self.check_ingest)
        elif self.kept_ingest is not None:
            # each report once, over the table the last timed ingest op
            # wrote; the formats still cover every sink
            self.ns = self.spark.read.parquet(self.kept_ingest)
            for kind, fmt in PROBE_REPORTS:
                self.run_op(f"{kind}/{fmt}", lambda k=kind, f=fmt: self.report(k, f, self.ns),
                            lambda res: bool(res[1]))
        self.entry_probes()
        self.tracer.enabled = False

    def entry_probes(self) -> None:
        """Each driver-contract query once, cache-cold, collected to the
        driver; the result is compared with its DuckDB oracle."""
        import importlib.util

        import duckdb

        import __spark_entry__ as entry

        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(os.getcwd(), "scripts", "check_correctness.py"))
        cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cc)

        qdir = os.path.join(self.work, "query_tables")
        gen.write_query_tables(qdir, self.seed)
        con = duckdb.connect()
        for t in ("lineitem", "orders", "customer", "supplier", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{qdir}/{t}.parquet'")
        queries, oracles = entry._all_queries(), entry.oracle_sql()
        for q in pass_sequence(self.seed, 0, ENTRY_QUERIES):

            def run(fn=queries[q]):
                with self.tracer.span(f"entry.{q}.build"):
                    df = fn(self.spark, qdir)
                with self.tracer.span(f"entry.{q}.exec"):
                    return df.toPandas()

            self.run_op(q, run, lambda got: not cc.compare(got, con.sql(oracles[q]).df()))
        con.close()

    # ----------------------------------------------------------- results
    def unscaled(self) -> dict[str, float]:
        """The timed loop's figures in this host's seconds."""
        secs = [o["sec"] for o in self.ops]
        return {
            "op_p50_gm_s": kind_median_geomean([(o["kind"], o["sec"]) for o in self.ops]),
            "ops_per_s": len(secs) / sum(secs),
            "cpu_s_per_op": sum(self.cpu.values()) / len(secs),
        }

    def e2e(self) -> dict[str, tuple[float, str]]:
        """Op times in reference seconds (rs): seconds times the reference
        loop's nominal time over its mean time in this run, so a host that
        runs everything slower for minutes at a time does not read as a
        slower program. The mean, not the median or the fastest: on a busy
        host the loop's time flips between two levels from one second to
        the next, and the mean follows the share of time spent at each."""
        u = self.unscaled()
        k = sysmon.REF_LOOP_S / statistics.mean(self.ref)
        return {
            "setup_s": (self.m["setup_s"], "s"),
            "op_p50_gm_rs": (u["op_p50_gm_s"] * k, "rs"),
            "ops_per_rs": (u["ops_per_s"] / k, "1/rs"),
            "cpu_rs_per_op": (u["cpu_s_per_op"] * k, "rs"),
            "ok_ratio": (1 - len(self.failures) / self._seq, "ratio"),
            "layout_bytes_per_inode": (statistics.median(b / r for _, b, r in self.layout), "B"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        t = self.tracer
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out: dict[str, tuple[float, str]] = {}

        def put(name, value, unit):
            out[name] = (float(value), unit)

        put("session.start_s", self.m["session.start_s"], "s")
        put("prep_s", self.m["prep_s"], "s")
        put("spark.default_parallelism", self.m["spark.default_parallelism"], "count")
        put("fsimage.decode_s", med(t.durations("fsimage.decode")), "s")
        put("fsimage.load_s", med(t.durations("fsimage.load")), "s")
        put("fsimage.frame_s", med([own for _, own in t.self_times("fsimage.load")]), "s")
        put("fsimage.decode_dist_s", med(t.durations("fsimage.decode_dist")), "s")
        put("pathmat.bfs_s", med(t.durations("pathmat.bfs")), "s")
        put("pathmat.levels", self.m.get("pathmat.levels", 0.0), "count")
        put("layout.write_s", med(t.durations("layout.write")), "s")
        put("layout.files", med([f for f, _, _ in self.layout]), "count")
        put("layout.bytes", med([b for _, b, _ in self.layout]), "B")
        for k in REPORT_KINDS:
            put(f"report.{k}.build_s", med(t.durations(f"report.{k}.build")), "s")
            put(f"report.{k}.exec_s", med(t.durations(f"report.{k}.exec")), "s")
            put(f"report.{k}.jobs", med([c["jobs"] for kind, cs in self.kind_counts.items()
                                         if kind.startswith(f"{k}/") for c in cs]), "count")
        for fmt in FORMATS:
            per_kind = [
                statistics.median(xs) for k in REPORT_KINDS
                if (xs := [s["end"] - s["start"] for s in t.spans
                           if s["name"] == f"report.{k}.exec" and s.get("fmt") == fmt and s["end"]])
            ]
            put(f"sink.{fmt}.exec_s", med(per_kind), "s")
        for q in ENTRY_QUERIES:
            put(f"entry.{q}.build_s", med(t.durations(f"entry.{q}.build")), "s")
            put(f"entry.{q}.exec_s", med(t.durations(f"entry.{q}.exec")), "s")
            put(f"entry.{q}.jobs", med([c["jobs"] for c in self.kind_counts.get(q, [])]), "count")
        n = len(self.ops)
        for c in ("jobs", "stages", "tasks", "failed_tasks"):
            put(f"spark.{c}_per_op", sum(o[c] for o in self.ops) / n, "count")
        for part, key in (("driver_py", "driver"), ("jvm", "jvm"), ("pyworker", "pyworker")):
            put(f"cpu.{part}_s_per_op", self.cpu[key] / n, "s")
        put("mem.jvm_hwm_mb", self.m["mem.jvm_hwm_mb"], "MiB")
        put("host.ref_loop_s", statistics.mean(self.ref), "s")
        put("host.steal_ratio", self.m["host.steal_ratio"], "ratio")
        put("op_drift_ratio", drift_ratio([(o["kind"], o["sec"]) for o in self.ops]), "ratio")
        put("trace.overhead_ratio", self._overhead(), "ratio")
        put("trace.unaccounted_ratio", med([ratio(own, dur) for dur, own in t.self_times("op")]), "ratio")
        return out

    def _overhead(self) -> float:
        """Per op kind, median traced op over median untraced op; the median
        of those ratios."""
        ratios = []
        for kind in {o["kind"] for o in self.ops}:
            tr = [o["sec"] for o in self.ops if o["kind"] == kind and o["traced"]]
            un = [o["sec"] for o in self.ops if o["kind"] == kind and not o["traced"]]
            if tr and un:
                ratios.append(ratio(statistics.median(tr), statistics.median(un)))
        return statistics.median(ratios) if ratios else 1.0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, out_dir: str) -> dict:
    b = Bench(workload, seed, seconds, trace, work)
    phases = [("prepare", b.prepare), ("start", b.start), ("setup", b.setup), ("warmup", b.warmup)]
    if trace:
        phases.append(("wrap", lambda: (
            b.tracer.wrap(fsimage_mod, "parse_fsimage", "fsimage.decode"),
            b.tracer.wrap(fsimage_mod, "materialize_paths", "pathmat.bfs_in_load"))))
    phases.append(("timed", b.timed))
    if trace:
        phases += [("probes", b.probes), ("unwrap", b.tracer.unwrap_all)]
    try:
        for name, fn in phases:
            t0 = time.perf_counter()
            fn()
            print(f"# phase {name} {time.perf_counter() - t0:.2f}s")
        print("# unscaled " + " ".join(f"{k}={v:.5g}" for k, v in b.unscaled().items())
              + f" host.ref_loop_s={statistics.mean(b.ref):.5f}"
              + f" host.steal_ratio={b.m['host.steal_ratio']:.4f}")
        metrics = b.per_layer() if trace else b.e2e()
        if trace:
            path = os.path.join(out_dir, f"spans-{workload}-{seed}.jsonl")
            b.tracer.dump(path, {"workload": workload, "seed": seed, "ops": b.ops})
            print(f"# spans: {path}")
    finally:
        b.stop()
    return {
        "correct": not b.failures,
        "attempted": b._seq,
        "failed": len(b.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
