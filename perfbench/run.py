"""The engine's benchmark: one command, two workloads, correctness checks.

    python3 perfbench/run.py --workload north_validate --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``north_validate``: the north-rule job of benchmarks/bench_scaling.py
  (deferred profile, five-constraint suite per partition, unioned violation
  samples) on a generated 64-partition code table, repeated for
  ``--seconds``; its traced run adds the N -> 4N scaling run, one
  single-family suite per constraint module, and the CheckpointRunner path
  (crash, resume, all-done resubmit) over the same table;
- ``operator_suite``: named queries from ``data_profiler_spark.queries``,
  each run once, cold, over generated TPC-H-like tables.

The load is a closed loop with one client. Every run starts a fresh worker
process (``worker.py``) with a cold JVM at ``local[nproc]``; this file
generates the inputs, samples the worker's process-tree memory from /proc,
counts its operations, and prints a table of the measurements followed by
one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list.
With ``--trace 1`` a traced worker (a third of ``--seconds`` of timed work)
has its Spark event log folded into the benchmark's call spans; the metrics
are the ``per_layer`` list. ``trace.overhead_frac`` compares its wall_s
with the median of the untraced runs of the workload recorded in this
checkout; without any, an untraced worker of the same length runs first.
Generated inputs are cached under ``perfbench/.work/inputs``, keyed on
(rows, seed, hash of the generator source). Nothing is written outside
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import procs

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
WORKLOADS = ("north_validate", "operator_suite")
ROWS = 50_000
DEADLINE_S = 170.0
MB = 1024.0 * 1024.0


def _sha(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()[:12]


def prepare_inputs(workload: str, seed: int) -> dict:
    """Input locations for the worker. The operator-suite tables are written
    here (numpy, no JVM); the code table is generated by the worker, which
    already has a session, at the path keyed here."""
    inputs = WORK / "inputs"
    if workload == "operator_suite":
        import tpch

        final = inputs / f"ops-s{seed}-{_sha(BENCH_DIR / 'tpch.py')}"
        if not (final / "READY").exists():
            tmp = final.with_name(final.name + f".tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            rows = tpch.write(seed, tmp / "tables")
            (tmp / "READY").write_text(json.dumps(rows))
            tmp.rename(final)
        return {"ops_dir": str(final / "tables"),
                "ops_rows": json.loads((final / "READY").read_text())}
    rows = ROWS
    code_hash = _sha(ROOT / "data_profiler_spark" / "sources" / "code_table.py")
    inputs.mkdir(parents=True, exist_ok=True)
    return {"rows": rows, "code_dir": str(inputs / f"code-r{rows}-s{seed}-{code_hash}")}


class Worker:
    """One worker process: its own run directory, environment and process
    group; peak resident memory of its process tree sampled every 100 ms."""

    def __init__(self, cfg: dict, run_dir: Path) -> None:
        self.run_dir = run_dir
        for sub in ("tmp", "local"):
            (run_dir / sub).mkdir(parents=True, exist_ok=True)
        self.cfg = dict(cfg, run_dir=str(run_dir),
                        ops_path=str(run_dir / "ops.jsonl"),
                        result_path=str(run_dir / "result.json"))
        self.peak_rss = 0
        self.proc: subprocess.Popen | None = None
        self.timed_out = False

    def run(self, timeout: float) -> None:
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join([str(ROOT), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            PYTHONHASHSEED="0",
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            TMPDIR=str(self.run_dir / "tmp"),
            SPARK_LOCAL_DIRS=str(self.run_dir / "local"),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            JAVA_TOOL_OPTIONS=(
                env.get("JAVA_TOOL_OPTIONS", "")
                + f" -Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData"
            ).strip(),
        )
        cfg_path = self.run_dir / "config.json"
        self.cfg["spawn_time"] = time.time()
        cfg_path.write_text(json.dumps(self.cfg))
        with open(self.run_dir / "worker.log", "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, str(BENCH_DIR / "worker.py"), str(cfg_path)],
                cwd=self.run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            done = threading.Event()
            sampler = threading.Thread(target=self._sample, args=(done,), daemon=True)
            sampler.start()
            try:
                self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self.timed_out = True
            finally:
                done.set()
                sampler.join()
                self._kill_group()

    def _sample(self, done: threading.Event) -> None:
        while not done.is_set():
            self.peak_rss = max(self.peak_rss, procs.resident_bytes(procs.tree(self.proc.pid)))
            done.wait(0.1)

    def _kill_group(self) -> None:
        """Stop the worker and everything it started (JVM, Python workers)
        and wait until none of them is left."""
        pgid = self.proc.pid
        for _ in range(200):
            left = [p for p in _group_members(pgid)]
            if not left:
                break
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=0.1)
                except subprocess.TimeoutExpired:
                    pass
            else:
                time.sleep(0.05)
        self.proc.wait()

    def ops(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, failures). Planned operations that never
        ended count as failed, so a killed worker fails what it had left."""
        planned: list[str] = []
        begun: list[str] = []
        ended: dict[str, tuple[bool, str | None]] = {}
        path = Path(self.cfg["ops_path"])
        if path.exists():
            for line in path.read_text().splitlines():
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn last line of a killed worker
                if "plan" in rec:
                    planned = rec["plan"]
                elif "begin" in rec:
                    begun.append(rec["begin"])
                elif "end" in rec:
                    ended[rec["end"]] = (rec["ok"], rec.get("error"))
        names = list(dict.fromkeys(planned + begun)) or ["worker"]
        failures = []
        for n in names:
            ok, err = ended.get(n, (False, "did not finish"))
            if not ok:
                failures.append(f"{n}: {err}")
        return len(names), len(failures), failures

    def result(self) -> dict:
        path = Path(self.cfg["result_path"])
        return json.loads(path.read_text()) if path.exists() else {}

    def log_tail(self, n: int = 40) -> str:
        path = self.run_dir / "worker.log"
        return "\n".join(path.read_text(errors="replace").splitlines()[-n:]) if path.exists() else ""


def _group_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(name))
    return out


def cpu_probe() -> float:
    """Seconds for a fixed single-core job (sha256 over 256 MiB): a host-load
    record printed with every run, never used to select or retry runs."""
    blob = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(blob)
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "data_profiler_spark" / "__init__.py").exists():
        print(f"error: no data_profiler_spark package next to {BENCH_DIR.name}/",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    t_start = time.time()
    host = {"cpu_probe_s": cpu_probe(), "steal_s": -steal_s()}

    inputs = prepare_inputs(args.workload, args.seed)
    # A traced run measures a third of the untraced timed window.
    seconds = args.seconds / 3 if args.trace else args.seconds
    base = dict(inputs, workload=args.workload, seed=args.seed, seconds=seconds)
    history = WORK / "history" / f"{args.workload}.jsonl"
    untraced_walls = (
        [json.loads(line)["wall_s"] for line in history.read_text().splitlines()]
        if history.exists() else []
    )
    traces = [1] if args.trace and untraced_walls else [0, 1] if args.trace else [0]
    workers: list[Worker] = []
    try:
        for trace in traces:
            w = Worker(dict(base, trace=trace), WORK / "runs" / f"{os.getpid()}-t{trace}")
            workers.append(w)
            w.run(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
            if w.timed_out:
                break
            wall = w.result().get("measures", {}).get("wall")
            if trace == 0 and wall and not w.ops()[1]:
                untraced_walls.append(wall["median"])
                if not args.trace:
                    history.parent.mkdir(parents=True, exist_ok=True)
                    with history.open("a") as fh:
                        fh.write(json.dumps({"seed": args.seed, "wall_s": wall["median"]}) + "\n")
        host["steal_s"] += steal_s()
        return report(args, spec, workers, t_start, untraced_walls, host)
    finally:
        for w in workers:
            shutil.rmtree(w.run_dir, ignore_errors=True)


def report(args, spec: dict, workers: list[Worker], t_start: float,
           untraced_walls: list[float], host: dict) -> int:
    attempted = failed = 0
    failures: list[str] = []
    for w in workers:
        a, f, fl = w.ops()
        attempted, failed = attempted + a, failed + f
        failures += fl
        if w.timed_out:
            failures.append(f"worker stopped after {DEADLINE_S:.0f} s")
        if f:
            print(w.log_tail(), file=sys.stderr)
    main_w = workers[-1]
    res = main_w.result()
    meas = res.get("measures", {})
    wall = meas.get("wall", {})

    print(f"workload {args.workload}  seed {args.seed}  cpus {len(os.sched_getaffinity(0))}"
          f"  trace {args.trace}  elapsed {time.time() - t_start:.1f} s")
    print(f"  host: load1 {os.getloadavg()[0]:.2f}  cpu_probe_s {host['cpu_probe_s']:.3f}"
          f"  steal_s {host['steal_s']:.1f}")
    values: dict[str, float] = {}
    if wall:
        values = {
            "setup_s": meas["setup_s"],
            "wall_s": wall["median"],
            "files_per_s": meas["rows"] / wall["median"],
            "peak_rss_mb": main_w.peak_rss / MB,
            "ops_ok_frac": (attempted - failed) / attempted,
        }
        print(f"  wall_s per repetition: median {wall['median']:.4f}  q1 {wall['q1']:.4f}"
              f"  q3 {wall['q3']:.4f}  n {wall['n']}  "
              + " ".join(f"{x:.3f}" for x in wall.get("all", [])))
        for key in ("session_s", "input_s", "wall_1cpu", "scaling_eff"):
            if key in meas:
                print(f"  {key:<28} {meas[key]:.4f}")
        for q, s in sorted(meas.get("query_s", {}).items(), key=lambda kv: -kv[1]):
            print(f"  query {q:<34} {s:.4f} s")
    for name, v in values.items():
        unit = next((m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
                     if m["name"] == name), "")
        print(f"  {name:<28} {_fmt(v):>12} {unit}")
    for f in failures:
        print(f"  FAILED {f}")
    print(f"  correct {not failed}  attempted {attempted}  failed {failed}")

    if args.trace:
        layers = dict(res.get("layers", {}), peak_rss_mb=main_w.peak_rss / MB)
        if wall and untraced_walls:
            layers["trace.overhead_frac"] = (
                wall["median"] / statistics.median(untraced_walls) - 1.0)
        print("  self time per span (s):")
        for name, s in sorted(res.get("self_s", {}).items(), key=lambda kv: -kv[1]):
            print(f"    {name:<40} {s:.4f}")
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        if missing and not failed:
            # the traced worker finished, so a metric it did not produce is
            # a benchmark defect: count it, do not print it as a measurement
            attempted, failed = attempted + 1, failed + 1
            print(f"  FAILED per-layer metrics not produced: {', '.join(missing)}")
        print("  per-layer metrics:")
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"    {m['name']:<34} {_fmt(v):>12} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
