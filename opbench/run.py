"""Per-operator benchmark of geofileops_spark.

    python3 opbench/run.py --workload parcels --seed 1 --seconds 24 --trace 0

Run from the repository root. One driver process at ``local[2]`` (a closed
loop: one client calls the workload's three operators round-robin, each
call forced by writing its output to parquet and then checked against
values computed without the package). ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones read from Spark's status
stores; the last stdout line is the JSON result. Exits 1 when any output
check fails, 2 when the package is missing. See opbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".opbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ops  # noqa: E402
from statustrace import Tracer, live_counts  # noqa: E402

MASTER = "local[2]"
# input sizes per workload; the tables a workload does not time stay
# small, they only feed the traced run's layer probes
SIZES = {
    "parcels": {"pages": 100_000, "parcels": 2_000, "cx_rings": 1, "cx_coords": 2_000},
    "complex": {"pages": 100_000, "parcels": 400, "cx_rings": 1, "cx_coords": 8_000},
}
# rounds per run = seconds / nominal round time: the same on every run
# of every commit, so medians compare equal sample counts
ROUND_S = {"parcels": 8.5, "complex": 8.0}
MIN_ROUNDS = 3
KEEP_INPUTS = 12  # generated input sets kept for reuse across runs
LAYER_REPS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=ops.ROLES,
                    help="self-test: damage the first output of this role")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geofileops_spark")):
        print(f"geofileops_spark not found under {ROOT}", file=sys.stderr)
        return 2

    data_dir, exp = _inputs(args.workload, args.seed)
    result = Run(args, data_dir, exp).execute()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _inputs(workload: str, seed: int):
    """Generate the inputs once per (workload, sizes, seed)."""
    sizes = SIZES[workload]
    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
    path = os.path.join(WORK, "inputs", f"{workload}-{key}-{seed}")
    done = os.path.join(path, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        gen.generate(path, seed, sizes)
        print(f"# generated inputs in {time.perf_counter() - t0:.2f} s (not a metric)")
        _evict(os.path.dirname(path))
    with open(done) as f:
        return path, json.load(f)


def _evict(parent: str) -> None:
    sets = sorted((os.path.getmtime(os.path.join(parent, d)), d) for d in os.listdir(parent))
    for _, d in sets[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


class Run:
    def __init__(self, args, data_dir: str, exp: dict):
        self.args = args
        self.wl = args.workload
        self.data_dir = data_dir
        self.exp = exp
        self.out_dir = os.path.join(WORK, "out", f"{self.wl}-{os.getpid()}")
        self.scratch = os.path.join(WORK, "spark", str(os.getpid()))
        self.rss = RssSampler()
        self.spark = None

    # ------------------------------------------------------------ phases
    def execute(self) -> dict:
        steal0 = steal_seconds()
        calib = calib_seconds()
        try:
            setup_s = self._setup()
            self.rss.start()
            calls = self._rounds()
            self.rss.stop()
            layer = self._layers(calls) if self.args.trace else None
        finally:
            self.rss.stop()
            self._stop()
            shutil.rmtree(self.out_dir, ignore_errors=True)
            shutil.rmtree(self.scratch, ignore_errors=True)
        steal = steal_seconds() - steal0
        print(f"# host.calib_s {calib:.4f}  host.steal_s {steal:.2f} (diagnostics, never used "
              "to rescale a metric)")
        ok = sum(c["ok"] for c in calls)
        result = {"correct": ok == len(calls), "attempted": len(calls),
                  "failed": len(calls) - ok}
        if self.args.trace:
            layer.update({"host.calib_s": (calib, "s"), "host.steal_s": (steal, "s")})
            metrics = layer
        else:
            metrics = self._end_to_end(setup_s, calls)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result

    def _setup(self) -> float:
        """get_spark, reading the inputs and one warm-up call per operator
        on the first half of each table's files: everything the program
        does before the first timed call."""
        os.makedirs(self.scratch, exist_ok=True)
        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the package's session reads SPARK_LOCAL_DIRS; Python workers
        # inherit PYTHONPATH and TMPDIR from the JVM this process launches
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        from geofileops_spark import release_caches
        from geofileops_spark.session import get_spark

        self.release = release_caches
        self.spark = get_spark(
            app_name=f"opbench-{self.wl}", master=MASTER,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no hsperfdata file in /tmp: the run writes only in the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        print(f"# get_spark {time.perf_counter() - t0:.2f} s")
        warm = ops.Frames(self.spark, self.data_dir, warm=True)
        self.frames = ops.Frames(self.spark, self.data_dir)
        for role in ops.ROLES:
            op = ops.OPS[self.wl][role]
            t1 = time.perf_counter()
            out = os.path.join(self.out_dir, "warm", op)
            ops.build(op, warm).write.mode("overwrite").parquet(out)
            self.release()
            print(f"# warm-up {op} {time.perf_counter() - t1:.2f} s")
        # start the timed calls from a compacted heap, so peak_rss_mb shows
        # what they need, not how far the warm-up happened to grow the heap
        # (measured: the JVM's RSS otherwise varied 1.3-1.8 GB run to run)
        self.spark._jvm.System.gc()
        setup_s = time.perf_counter() - t0
        print(f"# setup_s {setup_s:.3f} (get_spark + read + {len(ops.ROLES)} warm-up calls)")
        return setup_s

    def _rounds(self) -> list[dict]:
        rounds = max(MIN_ROUNDS, round(self.args.seconds / ROUND_S[self.wl]))
        self.tracer = Tracer(self.spark, self.wl) if self.args.trace else None
        calls = []
        for r in range(rounds):
            for role in ops.ROLES:
                calls.append(self._call(role, r))
        return calls

    def _call(self, role: str, r: int) -> dict:
        op = ops.OPS[self.wl][role]
        path = os.path.join(self.out_dir, op)
        call = {"role": role, "op": op, "ok": False, "s": None}
        if self.tracer:
            self.tracer.begin_call(role, op, r)
        t0 = time.perf_counter()
        try:
            ops.build(op, self.frames).write.mode("overwrite").parquet(path)
            call["s"] = time.perf_counter() - t0
        except Exception:  # a failed call is counted and the loop goes on
            traceback.print_exc()
        end = time.time()
        self.release()
        if call["s"] is not None:
            if self.args.corrupt == role and r == 0:
                ops.corrupt(path)
            try:
                err = ops.check(op, path, self.exp)
            except Exception as e:  # unreadable output fails its check
                err = f"{type(e).__name__}: {e}"
            call["ok"] = err is None
            if err:
                print(f"# CHECK FAILED {self.wl}/{op} round {r}: {err}")
        if self.tracer:
            rows = ops.out_rows(path) if call["s"] is not None else 0
            call["layer"] = self.tracer.end_call(end, rows)
            b, p = live_counts(self.spark.sparkContext)
            self.tracer.note(self.tracer.last_call, broadcasts_live=b, persisted_live=p)
        return call

    # ----------------------------------------------------------- metrics
    def _end_to_end(self, setup_s: float, calls: list[dict]) -> dict:
        done = [c for c in calls if c["s"] is not None]
        rows = sum(sum(self.exp["rows"][t] for t in ops.INPUTS[c["op"]]) for c in done)
        busy = sum(c["s"] for c in done)
        m = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (rows / busy if busy else 0.0, "1/s"),
            "peak_rss_mb": (self.rss.peak_mb, "MB"),
            "op_ok_ratio": (sum(c["ok"] for c in calls) / len(calls), "ratio"),
        }
        for role in ops.ROLES:
            ts = [c["s"] for c in done if c["role"] == role]
            med = statistics.median(ts) if ts else 0.0
            m[f"{role}_s"] = (med, "s")
            # no tail percentile: a run has far fewer than ten calls
            # beyond any percentile worth reporting
            print(f"# {role}_s = {ops.OPS[self.wl][role]}: median {med:.3f} s of {len(ts)} "
                  f"calls [{', '.join(f'{t:.3f}' for t in ts)}]")
        return m

    def _layers(self, calls: list[dict]) -> dict:
        """Per-layer metrics: medians of the traced calls, the layer
        probes, the kernels and the run-wide counters."""
        import kernels

        m = {}
        units = {"jobs": "count", "out_rows": "count", "task_skew": "ratio",
                 "py_sent_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB"}
        for role in ops.ROLES:
            got = [c["layer"] for c in calls if c["role"] == role]
            for k in got[0]:
                m[f"{role}.{k}"] = (statistics.median(g[k] for g in got), units.get(k, "s"))
        t0 = time.perf_counter()
        m.update(self._probes())
        b, p = live_counts(self.spark.sparkContext)
        m["cache.broadcasts_live"] = (b, "count")
        m["cache.persisted_live"] = (p, "count")
        tr = self.tracer
        m["trace.overhead_s"] = (tr.overhead_s / len(calls), "s")
        kern = kernels.run(lambda n, s, e: tr.span(n, s, e, tr.root))
        m.update({k: (v, "us") for k, v in kern.items()})
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        spans = os.path.join(WORK, "spans", f"{self.wl}-seed{self.args.seed}.json")
        tr.write(spans)
        print(f"# spans written to {os.path.relpath(spans, ROOT)}; probes and kernels "
              f"took {time.perf_counter() - t0:.1f} s")
        return m

    def _probes(self) -> dict:
        """Time a layer's public function with its output sent to a noop
        sink (median of LAYER_REPS)."""
        from geofileops_spark.operators.celljoin import candidate_pairs
        from geofileops_spark.operators.overlay import subdivide_layer
        from geofileops_spark.sources.pages import extract_points

        t = self.frames
        probes = {
            "sources.pages.extract_points_s":
                lambda: extract_points(t.pages, res=12, with_geom=False),
            "operators.celljoin.candidate_pairs_s":
                lambda: candidate_pairs(t.parcels_l0, t.parcels_l1)[0],
            "operators.overlay.subdivide_layer_s":
                lambda: subdivide_layer(t.cx, ops.SUBDIVIDE_COORDS),
        }
        m = {}
        for name, fn in probes.items():
            start, ts = time.time(), []
            for _ in range(LAYER_REPS):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            self.release()
            self.tracer.span(name, start, time.time(), self.tracer.root, reps=LAYER_REPS)
            m[name] = (statistics.median(ts), "s")
        n_cand = candidate_pairs(t.parcels_l0, t.parcels_l1)[0].count()
        self.release()
        m["operators.celljoin.candidates"] = (n_cand, "count")
        m["operators.celljoin.useful_ratio"] = (len(self.exp["pairs"]) / n_cand, "ratio")
        return m

    def _stop(self) -> None:
        """Stop Spark and wait for the JVM this process launched."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ----------------------------------------------------------- host probes
class RssSampler:
    """Peak of the summed RSS of this process and all its descendants
    (the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread = None

    def start(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._halt.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None

    def _loop(self):
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._halt.wait(0.2)


def tree_rss_mb(pid: int) -> float:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calib_seconds() -> float:
    """A fixed single-thread numpy probe: median of 5 sorts of 1M floats."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(a)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


if __name__ == "__main__":
    sys.exit(main())
