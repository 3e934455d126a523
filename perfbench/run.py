"""End-to-end benchmark of the validation CLI.

Runs ``np_data_validation_spark.__main__.main(argv)`` in this process, one
call at a time (a closed loop with one client) on ``local[nproc]``, over
tables generated from ``--seed``. Every call's outputs are checked against
an oracle derived from the generator's labels. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics from
a traced run with ``--trace 1``).

    python3 perfbench/run.py --workload fresh --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Everything the run writes goes under
``.perfbench_work/`` in the current directory and is removed on exit. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "np_data_validation_spark"
# the package under test is the one next to perfbench/, never an installed copy
sys.path.insert(1, ROOT)

import hoststat  # noqa: E402
import inputs  # noqa: E402  (imports the package: fails when it is absent)
import spans  # noqa: E402

#: rows: snapshot documents before duplicates; missing: weight of documents
#: absent from the manifest (None = synth's default fault mix).
WORKLOADS = {
    "fresh": {"rows": 100_000, "missing": None},
    "resume_changed": {"rows": 100_000, "missing": None},
    # n_missing must exceed verdicts.PROBE_BROADCAST_MAX (~699k) for the
    # probe to take its keyed-semi tier
    "lagging_manifest": {"rows": 800_000, "missing": 0.9},
}

#: input builds per run; setup_s takes their median
BUILD_REPS = 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's table size (self-tests)")
    ap.add_argument("--tamper", action="store_true",
                    help="perturb one expected count, so every call must "
                         "fail verification (self-test of the oracle)")
    return ap.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cli(argv: list[str]) -> dict:
    """One CLI call; returns its JSON summary line."""
    from np_data_validation_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"CLI exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.resume = args.workload == "resume_changed"
        self.spec = WORKLOADS[args.workload]
        self.nproc = hoststat.nproc()
        self.out = os.path.join(work, "out")
        self.call_flags = ["--content-aware"] if self.resume else ["--no-resume"]
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.ref_digest: dict[str, tuple[int, int]] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from np_data_validation_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.nproc,
            extra_conf={
                "spark.driver.memory": f"{hoststat.driver_memory_mb()}m",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t

        builds = []
        for _ in range(BUILD_REPS):
            t = time.perf_counter()
            self.ds = inputs.build(os.path.join(self.work, "data"),
                                   self.args.rows or self.spec["rows"],
                                   self.args.seed, missing=self.spec["missing"])
            builds.append(time.perf_counter() - t)
        self.build_s = median(builds)
        self.expected, self.expected_audit = inputs.expected_metrics(self.ds.labels)

        # warm-up: the first call in a JVM pays class loading, Python worker
        # start and JIT compilation; resume_changed's set-up calls pay it
        t = time.perf_counter()
        if self.resume:
            self._setup_resume()
        else:
            self._prepare()
            self._check(cli(self._argv(self.out)), "warm-up")
        self.setup_s = self.session_s + self.build_s + time.perf_counter() - t
        if self.args.tamper:
            self.expected[self.ds.sources[0]]["pass"] += 1
            if self.ref_digest:
                rows, h = self.ref_digest["verdicts"]
                self.ref_digest["verdicts"] = (rows + 1, h)

    def _setup_resume(self) -> None:
        """State over T, then T' (one partition's payload flipped in place),
        a reference fresh run over T', and the saved state to restore.
        That the flip keeps every cheap fingerprint and changes exactly one
        content fingerprint is a self-test (test_perfbench.py); every call
        checks that exactly the flipped partition was re-validated."""
        self.state = os.path.join(self.work, "state")
        self._check_fresh(cli(self._argv(self.state, ["--content-aware"])), self.state)
        self.target = inputs.mutation_target(self.ds, self.args.seed)
        inputs.mutate_partition(self.ds, self.target)

        ref = os.path.join(self.work, "ref")
        cli(self._argv(ref, ["--no-resume"]))
        self.ref_digest = {t: inputs.table_digest(os.path.join(ref, t))
                           for t in ("verdicts", "violations")}
        self.state_digest = inputs.tree_digest(self.state)

    # -- one call ----------------------------------------------------------

    def _argv(self, out: str, flags: list[str] | None = None) -> list[str]:
        return ["--snapshot", self.ds.snapshot, "--manifest", self.ds.manifest,
                "--out", out, *(flags or self.call_flags)]

    def _prepare(self) -> None:
        """Untimed: give the next call its starting out dir."""
        if self.resume:
            inputs.restore(self.state, self.out)
            if inputs.tree_digest(self.out) != self.state_digest:
                raise AssertionError("restored out dir differs from the saved state")
        else:
            shutil.rmtree(self.out, ignore_errors=True)

    def timed_call(self, tracer=None, store=None) -> dict | None:
        """Prepare, run and check one call; None when it raised. Only the
        CLI call itself is inside the timed region."""
        self.attempted += 1
        try:
            self._prepare()
            before = hoststat.dir_bytes(self.out)
            if tracer is not None:
                tracer.install()
            cpu0 = hoststat.tree_cpu_s()
            with hoststat.PeakRss() as rss:
                e0, t0 = time.time(), time.perf_counter()
                res = cli(self._argv(self.out))
                wall = time.perf_counter() - t0
                e1 = time.time()
            cpu = hoststat.tree_cpu_s() - cpu0
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            self.failures.append(traceback.format_exc())
            self.failed += 1
            return None
        finally:
            if tracer is not None:
                tracer.uninstall()
        call = {"wall": wall, "cpu": cpu, "rss": rss.peak_mb, "res": res,
                "bytes": hoststat.dir_bytes(self.out) - before, "e0": e0, "e1": e1}
        if store is not None:
            call["jobs"] = len(store.jobs_between(e0, e1))
        if not self._check(res, f"call {self.attempted}"):
            self.failed += 1
        return call

    # -- verification ------------------------------------------------------

    def _check(self, res: dict, what: str) -> bool:
        try:
            if self.resume:
                self._check_resume(res)
            else:
                self._check_fresh(res, self.out)
        except AssertionError as e:
            self.failures.append(f"{what}: {e}")
            return False
        return True

    def _check_fresh(self, res: dict, out: str) -> None:
        if res["validated"] != self.ds.sources or res["skipped"]:
            raise AssertionError(f"validated {res['validated']}, skipped {res['skipped']}")
        got = {p: {k: v for k, v in m.items() if k != "partition_status"}
               for p, m in res["metrics"].items()}
        if got != self.expected:
            bad = sorted(p for p in self.expected if got.get(p) != self.expected[p])
            raise AssertionError(f"per-source counts differ from the oracle for {bad}")
        n = inputs.parquet_rows(os.path.join(out, "manifest_violations"))
        if n != self.expected_audit:
            raise AssertionError(f"manifest_violations has {n} rows, "
                                 f"expected {self.expected_audit}")

    def _check_resume(self, res: dict) -> None:
        others = [p for p in self.ds.sources if p != self.target]
        if res["validated"] != [self.target] or res["skipped"] != others:
            raise AssertionError(f"validated {res['validated']}, skipped {res['skipped']}")
        for t, want in self.ref_digest.items():
            got = inputs.table_digest(os.path.join(self.out, t))
            if got != want:
                raise AssertionError(f"{t} digest {got} != fresh run over T' {want}")

    # -- runs --------------------------------------------------------------

    def _loop(self, step) -> None:
        """Call ``step`` until --seconds have passed and it has succeeded
        once (or every attempt so far failed and time is up)."""
        start, ok = time.perf_counter(), False
        while not ok or time.perf_counter() - start < self.args.seconds:
            ok = step() or ok
            if not ok and time.perf_counter() - start >= self.args.seconds:
                raise RuntimeError("every call raised")

    def run_plain(self) -> dict:
        calls = []

        def step():
            c = self.timed_call()
            if c is not None:
                calls.append(c)
            return c is not None

        self._loop(step)
        self.call_walls = [c["wall"] for c in calls]
        wall = median(self.call_walls)
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (self.ds.rows / wall, "rows/s"),
            "cpu_s": (median([c["cpu"] for c in calls]), "s"),
            "written_bytes_per_row": (median([c["bytes"] for c in calls]) / self.ds.rows,
                                      "bytes/row"),
        }

    def run_traced(self) -> dict:
        """Pairs of one untraced and one traced call; per-layer numbers are
        the medians over the traced calls."""
        store = spans.StatusStore(self.spark)
        plain, traced = [], []

        def step():
            # alternate which of the pair runs first, so JIT warming over
            # the run does not bias the overhead estimate
            tracer = spans.Tracer()
            if len(traced) % 2:
                t = self.timed_call(tracer=tracer, store=store)
                c = self.timed_call(store=store)
            else:
                c = self.timed_call(store=store)
                t = self.timed_call(tracer=tracer, store=store)
            if c is None or t is None:
                return False
            t["layers"] = spans.layer_metrics(t, tracer, store, self.out, self.ds.rows)
            t["layers"]["trace.extra_jobs"] = (t["jobs"] - c["jobs"], "count")
            plain.append(c)
            traced.append(t)
            return True

        self._loop(step)
        self.call_walls = [c["wall"] for pair in zip(plain, traced) for c in pair]
        out = {"session.start_s": (self.session_s, "s"),
               "host.peak_rss_mb": (median([c["rss"] for c in plain]), "MiB")}
        for name, (_, unit) in traced[0]["layers"].items():
            out[name] = (median([t["layers"][name][0] for t in traced]), unit)
        out["trace.overhead_s"] = (median([t["wall"] for t in traced])
                                   - median([c["wall"] for c in plain]), "s")
        return out


def source_digest(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(root, fn), "rb") as f:
                h.update(fn.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def host_stamp(bench: Bench) -> dict:
    import pyspark

    conf = bench.spark.sparkContext.getConf()
    return {
        "nproc": bench.nproc,
        "mem_total_kb": hoststat.mem_total_kb(),
        "pyspark": pyspark.__version__,
        "java": bench.spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": hoststat.git_commit(ROOT),
        "package_sha": source_digest(os.path.join(ROOT, PKG)),
        "spark_local_dir": conf.get("spark.local.dir", None),
        "driver_memory": conf.get("spark.driver.memory", None),
        "master": bench.spark.sparkContext.master,
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "rows": bench.ds.rows,
        "session_s": round(bench.session_s, 3),
        "input_build_s": round(bench.build_s, 3),
        "call_walls_s": [round(w, 3) for w in bench.call_walls],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: do not leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of the driver, the JVM and the workers lands in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["NPDV_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(hoststat.nproc())
    tempfile.tempdir = None
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = Bench(args, work)
    try:
        bench.setup()
        metrics = bench.run_traced() if args.trace else bench.run_plain()
        stamp = host_stamp(bench)
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    for f in bench.failures:
        print(f, file=sys.stderr)
    print("host " + json.dumps(stamp, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value} {unit}")
    print(f"failed_frac {bench.failed / bench.attempted} frac")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
