"""One run of one workload, in a fresh process with a cold JVM.

``run.py`` starts this file with the path of a JSON config and reads back
two files the config names: an operation log (JSON lines, one ``begin`` and
one ``end`` record per operation, flushed as they happen, so that a run
killed half way still shows what it attempted) and a result file with the
measurements. Everything the run writes lands under the config's run
directory.

The load is a closed loop with one client: each job is submitted after the
previous one returned its verdicts. Timed regions end when the caller holds
every output column (``collect()``); checks run after the timed regions.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import procs
from spans import Tracer, fold_event_log, job_totals

MAX_REPS = 12
# untimed repetitions of the north job before timing: in one session the
# job is still getting faster (JIT, heap sizing) for its first ~4 runs
WARMUP_REPS = 4
SAMPLE_KEYS = ["partition_id", "repo", "path", "commit"]
N_PARTITIONS = 64
CHUNK_SIZE = 16
MB = 1024.0 * 1024.0

# Operator-suite queries, by the engine module whose operator each query
# builder calls ("aggregates" = plain Spark aggregates in queries.py). One or
# two queries per module, from bench.py's HEADLINE list: a cold run of all 53
# takes ~55 s on 4 cores, which with a ~17 s JVM start per run does not fit
# the benchmark's time budget. The code-table queries are left to
# north_validate.
OPERATOR_QUERIES = {
    "profile_lineitem": "aggregates",
    "ks_quantity_uniform": "distribution",
    "cramers_v_partkey_returnflag": "distribution",
    "unexpected_value_counts": "validator",
    "urn_cross_suite_verdicts": "validator",
    "passage_dup_stats": "text",
    "decontamination_hits": "dedup",
    "embedding_topk_ivf": "similarity",
    "rule_profile_ranges": "rule_profiler",
    "profile_drift_verdicts": "profile_diff",
    "cms_heavy_hitter_counts": "sketches",
    "temperature_mixture_counts": "mixing",
}
FAMILIES = sorted(set(OPERATOR_QUERIES.values()))
CONSTRAINT_FAMILIES = ["map_constraints", "uniqueness", "referential", "distribution"]


class OpFailed(Exception):
    pass


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.run_dir = Path(cfg["run_dir"])
        self.tr = Tracer(bool(cfg["trace"]))
        self.out: dict = {"measures": {}, "layers": {}}
        self._ops = open(cfg["ops_path"], "a", buffering=1)
        self.cpus = sorted(os.sched_getaffinity(0))
        self.spark = None
        self.t_ready = None

    # -- operation log -------------------------------------------------
    def _log(self, rec: dict) -> None:
        self._ops.write(json.dumps(rec) + "\n")

    def plan(self, names: list[str]) -> None:
        self._log({"plan": names})

    @contextlib.contextmanager
    def op(self, name: str):
        self._log({"begin": name})
        try:
            yield
        except Exception as exc:
            traceback.print_exc()
            self._log({"end": name, "ok": False, "error": f"{type(exc).__name__}: {exc}"[:400]})
            raise OpFailed(name) from exc
        self._log({"end": name, "ok": True})

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self._log({"begin": name})
        self._log({"end": name, "ok": bool(ok), "error": None if ok else detail[:400]})
        if not ok:
            print(f"check {name} failed: {detail}", file=sys.stderr)

    def measure(self, **kv) -> None:
        self.out["measures"].update(kv)

    # -- session -------------------------------------------------------
    def start_session(self):
        from data_profiler_spark.core.session import get_spark_session

        conf = None
        if self.cfg["trace"]:
            log_dir = self.run_dir / "eventlog"
            log_dir.mkdir(parents=True, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        with self.op("session"), self.tr.span("session.build"):
            self.spark = get_spark_session(
                app_name=f"perfbench-{self.cfg['workload']}",
                master=f"local[{len(self.cpus)}]",
                extra_conf=conf,
            )
        self.t_ready = time.time()
        self.measure(session_s=self.t_ready - self.cfg["spawn_time"])
        self.tr.attach(self.spark)
        return self.spark

    def timed_loop(self, name: str, fn) -> list[tuple[float, object]]:
        """Repeat ``fn`` until ``--seconds`` of timed work (at least once)."""
        out: list[tuple[float, object]] = []
        spent = 0.0
        while len(out) < MAX_REPS and (not out or spent < self.cfg["seconds"]):
            with self.op(f"{name}.{len(out)}"), self.tr.span(f"timed.{name}"):
                t0 = time.perf_counter()
                value = fn(len(out))
                dt = time.perf_counter() - t0
            out.append((dt, value))
            spent += dt
        return out

    # -- inputs --------------------------------------------------------
    def code_input(self) -> tuple[str, str, int]:
        """The code table for (rows, seed, code_table.py hash): generated
        once at local[nproc] under the benchmark's directory, then reused."""
        final = Path(self.cfg["code_dir"])
        if not (final / "READY").exists():
            from data_profiler_spark.sources.code_table import (
                generate_code_files,
                generate_commits,
            )
            from data_profiler_spark.validator import add_partition_column

            tmp = final.with_name(final.name + f".tmp{os.getpid()}")
            t0 = time.perf_counter()
            with self.op("input.generate"), self.tr.span("input.generate"):
                files = add_partition_column(
                    generate_code_files(
                        self.spark, self.cfg["rows"], seed=self.cfg["seed"],
                        partitions=N_PARTITIONS,
                    ),
                    n_buckets=N_PARTITIONS, cols=["repo", "path"],
                )
                files.write.parquet(str(tmp / "files.parquet"))
                generate_commits(self.spark, seed=self.cfg["seed"]).write.parquet(
                    str(tmp / "commits.parquet")
                )
                import pyarrow.parquet as pq

                n = sum(pq.ParquetFile(f).metadata.num_rows
                        for f in (tmp / "files.parquet").glob("*.parquet"))
                (tmp / "READY").write_text(json.dumps({"rows": n}))
                tmp.rename(final)
            self.measure(input_s=time.perf_counter() - t0)
        n = json.loads((final / "READY").read_text())["rows"]
        return str(final / "files.parquet"), str(final / "commits.parquet"), n

    # -- end -----------------------------------------------------------
    def finish(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        Path(self.cfg["result_path"]).write_text(json.dumps(self.out))
        self._ops.close()


def _median_quartiles(xs: list[float]) -> dict:
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0]
    return {"median": statistics.median(xs), "q1": q1, "q3": q3, "n": len(xs), "all": xs}


def _dir_bytes(path: str | Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


# ======================================================================
# north_validate
# ======================================================================

def north_suite(baseline: dict):
    from data_profiler_spark.core.suite import ConstraintSuite

    return (
        ConstraintSuite("north_bench")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_column_value_lengths_to_be_between",
             column="content", min_value=0, max_value=1_000_000)
        .add("expect_compound_columns_to_be_unique",
             column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table",
             column_list=["repo", "commit"], other_table_name="commits",
             mostly=0.99)
        .add("expect_column_distribution_to_match_baseline",
             column="lang", baseline=baseline, p=0.001)
    )


def family_suites(baseline: dict) -> dict:
    """The north suite split by the operator module that compiles each
    constraint; the map constraints share one fused pass."""
    from data_profiler_spark.core.suite import ConstraintSuite

    full = north_suite(baseline).constraints
    parts = {
        "map_constraints": full[0:2],
        "uniqueness": full[2:3],
        "referential": full[3:4],
        "distribution": full[4:5],
    }
    return {k: ConstraintSuite(f"north_{k}", list(v)) for k, v in parts.items()}


def wrap_validator(tr: Tracer) -> None:
    from data_profiler_spark.validator import Validator

    tr.wrap(Validator, "compile", "validator.compile")
    tr.wrap(Validator, "validate", "validator.validate")


def north_pipeline(run: Run, files_path: str, commits_path: str):
    """The north-rule job of benchmarks/bench_scaling.py: deferred profile,
    five-constraint suite per partition, unioned violation samples."""
    from data_profiler_spark.operators.profile import profile_deferred
    from data_profiler_spark.validator import Validator

    tr, spark = run.tr, run.spark
    files = spark.read.parquet(files_path)
    commits = spark.read.parquet(commits_path)
    with tr.span("profile.scalar"):
        profs, finish_hist = profile_deferred(
            files,
            columns=["repo", "path", "commit", "lang", "content"],
            categorical_columns=["lang"],
            hist_bins=10,
            quantile_accuracy=1000,
        )
    n_files = profs[0].columns["repo"].row_count
    suite = north_suite(profs[0].columns["lang"].as_baseline())

    caller = tr.current()

    def traced(name, fn, *args):
        with tr.span(name, parent=caller):
            return fn(*args)

    with ThreadPoolExecutor(max_workers=2) as hx:
        hist_fut = hx.submit(traced, "profile.hist", finish_hist)
        v = Validator(files, tables={"commits": commits})
        prep_fut = hx.submit(
            traced, "validator.samples_prepare",
            v.prepare_violation_samples, suite, 20, SAMPLE_KEYS,
        )
        result = v.validate(suite, group_by=["partition_id"])
        hist_fut.result()
        prepared = prep_fut.result()
    with tr.span("validator.samples"):
        sdf = v.violation_samples_unioned(
            suite, limit=20, only_failed_of=result,
            key_columns=SAMPLE_KEYS, prepared=prepared,
        )
        samples = sdf.collect() if sdf is not None else []
    return {"n_files": n_files, "result": result, "n_samples": len(samples),
            "baseline": profs[0].columns["lang"].as_baseline()}


def north_expected(files_path: str, commits_path: str) -> dict:
    """Per-partition verdict numbers recomputed by DuckDB from the parquet."""
    import duckdb

    sql = f"""
    WITH f AS (SELECT * FROM read_parquet('{files_path}/*.parquet')),
    cm AS (SELECT DISTINCT repo, commit FROM read_parquet('{commits_path}/*.parquet')),
    base AS (
      SELECT partition_id, COUNT(*) AS n,
             SUM(CASE WHEN content IS NULL THEN 1 ELSE 0 END) AS nulls,
             SUM(CASE WHEN content IS NOT NULL AND (length(content) < 0
                      OR length(content) > 1000000) THEN 1 ELSE 0 END) AS bad_len,
             SUM(CASE WHEN repo IS NULL OR path IS NULL OR commit IS NULL
                      THEN 1 ELSE 0 END) AS miss_upc,
             SUM(CASE WHEN repo IS NULL OR commit IS NULL THEN 1 ELSE 0 END) AS miss_rc
      FROM f GROUP BY 1),
    dup AS (
      SELECT partition_id, SUM(kc) AS dup_rows FROM (
        SELECT partition_id, COUNT(*) AS kc FROM f
        WHERE repo IS NOT NULL AND path IS NOT NULL AND commit IS NOT NULL
        GROUP BY partition_id, repo, path, commit HAVING COUNT(*) > 1) g
      GROUP BY 1),
    orph AS (
      SELECT partition_id, COUNT(*) AS orphans
      FROM (SELECT * FROM f WHERE repo IS NOT NULL AND commit IS NOT NULL) fx
      ANTI JOIN cm ON fx.repo = cm.repo AND fx.commit = cm.commit
      GROUP BY 1)
    SELECT b.partition_id, b.n, b.nulls, b.bad_len, b.miss_upc, b.miss_rc,
           COALESCE(d.dup_rows, 0), COALESCE(o.orphans, 0)
    FROM base b LEFT JOIN dup d USING (partition_id)
    LEFT JOIN orph o USING (partition_id)
    """
    out = {}
    for pid, n, nulls, bad_len, miss_upc, miss_rc, dups, orphans in duckdb.sql(sql).fetchall():
        pid = int(pid)
        nu = n - miss_upc
        nr = n - miss_rc
        out[(pid, "expect_column_values_to_not_be_null")] = (
            n == 0 or (n - nulls) / n >= 0.98, n, nulls)
        out[(pid, "expect_column_value_lengths_to_be_between")] = (
            bad_len == 0, n, bad_len)
        out[(pid, "expect_compound_columns_to_be_unique")] = (
            nu <= 0 or (nu - dups) / nu >= 1.0, n, dups)
        out[(pid, "expect_compound_columns_to_exist_in_table")] = (
            nr <= 0 or (nr - orphans) / nr >= 0.99, n, orphans)
    return out


def check_north(run: Run, files_path: str, commits_path: str, n_rows: int, first: dict) -> None:
    results = first["result"].results
    run.check("check.row_count", first["n_files"] == n_rows,
              f"profile row_count {first['n_files']} != parquet rows {n_rows}")
    run.check("check.result_rows", len(results) == N_PARTITIONS * 5,
              f"{len(results)} result rows, expected {N_PARTITIONS * 5}")
    n_failed = len({r.constraint_id for r in results if not r.success})
    run.check("check.samples", 0 < first["n_samples"] <= 20 * n_failed,
              f"{first['n_samples']} violation samples for {n_failed} failed constraints")
    expected = north_expected(files_path, commits_path)
    got = {
        (int(r.group["partition_id"]), r.constraint_type):
            (bool(r.success), int(r.element_count or 0), int(r.unexpected_count or 0))
        for r in results if r.constraint_type in {k[1] for k in expected}
    }
    exp = {k: (bool(s), int(n), int(u)) for k, (s, n, u) in expected.items()}
    diff = [k for k in exp if got.get(k) != exp[k]]
    run.check("check.verdicts", not diff and len(got) == len(exp),
              f"{len(diff)} verdicts differ from DuckDB, e.g. "
              + "; ".join(f"{k}: got {got.get(k)} want {exp[k]}" for k in diff[:3]))
    drift = [r for r in results if r.constraint_type == "expect_column_distribution_to_match_baseline"]
    run.check("check.drift_rows",
              len({int(r.group["partition_id"]) for r in drift}) == N_PARTITIONS
              and all(r.exception_info is None for r in drift),
              "drift verdict missing or raised for some partition")


def north_validate(run: Run) -> None:
    tr = run.tr
    traced = ["scaling", "families", "checkpoint.crash", "checkpoint.full",
              "checkpoint.resume", "checkpoint.noop_resume", "check.resume_skips",
              "check.verdict_rows", "check.resumed_equals_uninterrupted",
              "check.one_sentinel_per_partition", "check.no_duplicate_rows"]
    run.plan(["session", "warmup", "rep.0", "check.row_count", "check.result_rows",
              "check.samples", "check.verdicts", "check.drift_rows"]
             + (traced if run.cfg["trace"] else []))
    wrap_validator(tr)
    run.start_session()
    files_path, commits_path, n_rows = run.code_input()
    run.out["table_bytes"] = _dir_bytes(files_path)

    t0 = time.perf_counter()
    with run.op("warmup"), tr.span("warmup"):
        for _ in range(WARMUP_REPS):
            north_pipeline(run, files_path, commits_path)
    run.measure(setup_s=run.t_ready - run.cfg["spawn_time"] + time.perf_counter() - t0)

    reps = run.timed_loop("rep", lambda i: north_pipeline(run, files_path, commits_path))
    walls = [w for w, _ in reps]
    run.measure(wall=_median_quartiles(walls), rows=n_rows)
    check_north(run, files_path, commits_path, n_rows, reps[0][1])
    if not run.cfg["trace"]:
        return

    # N -> 4N: the same job, same plan and partitioning, with the whole
    # process tree (driver, JVM, Python workers) pinned to one CPU.
    with run.op("scaling"):
        procs.pin(os.getpid(), {run.cpus[0]})
        try:
            with tr.span("scaling.rep1cpu"):
                t1 = time.perf_counter()
                north_pipeline(run, files_path, commits_path)
                w1 = time.perf_counter() - t1
        finally:
            procs.pin(os.getpid(), set(run.cpus))
    run.measure(wall_1cpu=w1,
                scaling_eff=w1 / (len(run.cpus) * statistics.median(walls)))

    from data_profiler_spark.validator import Validator

    files = run.spark.read.parquet(files_path)
    commits = run.spark.read.parquet(commits_path)
    with run.op("families"):
        for fam, suite in family_suites(reps[0][1]["baseline"]).items():
            with tr.span(f"family.{fam}"):
                Validator(files, tables={"commits": commits}).validate(
                    suite, group_by=["partition_id"])

    checkpoint_path(run, files, commits, n_rows)


class TimedStore:
    """Delegates to a ResultsStore and records a span around each call the
    checkpoint runner makes, so store cost is measured from outside."""

    def __init__(self, inner, tr: Tracer) -> None:
        self.inner = inner
        self.tr = tr

    def append_rows(self, rows):
        with self.tr.span("results_store.append"):
            return self.inner.append_rows(rows)

    def mark_done(self, *args, **kwargs):
        with self.tr.span("results_store.append"):
            return self.inner.mark_done(*args, **kwargs)

    def completed_partitions(self, *args, **kwargs):
        with self.tr.span("results_store.completed_partitions"):
            return self.inner.completed_partitions(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def read_store(path: Path) -> list[dict]:
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet").to_table().to_pylist()


def check_checkpoint(run: Run, uninterrupted: Path, resumed: Path) -> None:
    from data_profiler_spark.sources.results_store import DONE_SENTINEL

    def verdicts(rows):
        return sorted(
            (r["partition_id"], r["constraint_id"], r["success"],
             r["element_count"], r["unexpected_count"], r["observed_json"])
            for r in rows if r["constraint_id"] != DONE_SENTINEL
        )

    ref, res = read_store(uninterrupted), read_store(resumed)
    v_ref, v_res = verdicts(ref), verdicts(res)
    run.check("check.verdict_rows", len(v_ref) == N_PARTITIONS * 5,
              f"uninterrupted run stored {len(v_ref)} verdicts, expected {N_PARTITIONS * 5}")
    run.check("check.resumed_equals_uninterrupted", v_res == v_ref,
              f"resumed store has {len(v_res)} verdicts; "
              f"{len(set(v_res) ^ set(v_ref))} differ from the uninterrupted run")
    sentinels: dict[str, int] = {}
    for r in res:
        if r["constraint_id"] == DONE_SENTINEL:
            sentinels[r["partition_id"]] = sentinels.get(r["partition_id"], 0) + 1
    run.check("check.one_sentinel_per_partition",
              len(sentinels) == N_PARTITIONS and set(sentinels.values()) == {1},
              f"{len(sentinels)} partitions with sentinels, counts {sorted(set(sentinels.values()))}")
    keys = [(r["partition_id"], r["constraint_id"]) for r in res
            if r["constraint_id"] != DONE_SENTINEL]
    run.check("check.no_duplicate_rows", len(keys) == len(set(keys)),
              f"{len(keys) - len(set(keys))} duplicate verdict rows in the resumed store")


def checkpoint_path(run: Run, files, commits, n_rows: int) -> None:
    """The production path behind scripts/run_validation.py, traced runs
    only: CheckpointRunner over the code table in 16-partition chunks into
    fresh results stores. A run over the first half of the partitions stands
    for a crash; the resubmission over the whole table must skip that half,
    and end with the same verdicts as an uninterrupted run."""
    from pyspark.sql import functions as F

    from data_profiler_spark.checkpoint import CheckpointRunner
    from data_profiler_spark.sources.code_table import LANG_WEIGHTS, LANGS
    from data_profiler_spark.sources.results_store import DONE_SENTINEL, ResultsStore

    tr, spark = run.tr, run.spark
    suite = north_suite({"values": LANGS, "weights": LANG_WEIGHTS, "n": n_rows})
    stores = run.run_dir / "stores"

    def submit(df, store: Path, span: str):
        runner = CheckpointRunner(
            TimedStore(ResultsStore(spark, str(store)), tr),
            violation_limit=20, chunk_size=CHUNK_SIZE,
        )
        with run.op(span), tr.span(span):
            return runner.run(
                df, suite, partition_col="partition_id", snapshot_id="perfbench",
                tables={"commits": commits},
                violation_key_columns=["repo", "path", "commit"],
            )

    crashed = submit(files.where(F.col("partition_id") < N_PARTITIONS // 2),
                     stores / "resumed", "checkpoint.crash")
    submit(files, stores / "uninterrupted", "checkpoint.full")
    resumed = submit(files, stores / "resumed", "checkpoint.resume")
    noop = submit(files, stores / "resumed", "checkpoint.noop_resume")
    run.check("check.resume_skips", len(crashed.validated_partitions) == N_PARTITIONS // 2
              and len(resumed.skipped_partitions) == N_PARTITIONS // 2
              and len(resumed.validated_partitions) == N_PARTITIONS // 2
              and not noop.validated_partitions,
              f"crash validated {len(crashed.validated_partitions)}, resume skipped "
              f"{len(resumed.skipped_partitions)} and validated "
              f"{len(resumed.validated_partitions)}, all-done resubmit validated "
              f"{len(noop.validated_partitions)}")
    check_checkpoint(run, stores / "uninterrupted", stores / "resumed")

    chunk_ms = [
        json.loads(r["observed_json"])["chunk_duration_ms"]
        for r in read_store(stores / "uninterrupted") if r["constraint_id"] == DONE_SENTINEL
    ]
    run.out["chunk_s"] = statistics.median(chunk_ms) / 1000.0
    run.out["store_part_files"] = len(list((stores / "uninterrupted").glob("*.parquet")))
    run.out["store_bytes"] = _dir_bytes(stores / "uninterrupted")
    run.out["chunks_per_run"] = -(-N_PARTITIONS // CHUNK_SIZE)


# ======================================================================
# Operator suite
# ======================================================================

def operator_suite(run: Run) -> None:
    from data_profiler_spark import queries as Q

    sf_dir = run.cfg["ops_dir"]
    fixtures = run.run_dir / "fixtures"
    names = list(OPERATOR_QUERIES)
    run.plan(["session"] + [f"query.{n}" for n in names] + [f"check.{n}" for n in names])
    # Queries that persist a fixture or store write it under the run
    # directory instead of /tmp, and their oracles read it from there.
    Q._fixture_path = lambda sf, name: str(fixtures / Path(sf.rstrip("/")).name / name)
    wrap_validator(run.tr)
    spark = run.start_session()
    run.measure(setup_s=run.t_ready - run.cfg["spawn_time"])
    run.out["table_bytes"] = _dir_bytes(sf_dir)

    fns = Q.queries()
    outputs: dict[str, tuple] = {}
    times: dict[str, float] = {}
    for name in names:
        try:
            with run.op(f"query.{name}"), run.tr.span(f"query.{name}"):
                t0 = time.perf_counter()
                df = fns[name](spark, sf_dir)
                rows = df.collect()
                times[name] = time.perf_counter() - t0
            outputs[name] = (list(df.columns), rows, df)
        except OpFailed:
            continue
    run.measure(wall={"median": sum(times.values()), "q1": sum(times.values()),
                      "q3": sum(times.values()), "n": 1},
                rows=sum(run.cfg["ops_rows"].values()), query_s=times)

    if run.cfg["trace"]:
        exchanges: dict[str, int] = {}
        for name, (_, _, df) in outputs.items():
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            exchanges[name] = sum(
                1 for line in plan.splitlines()
                if line.startswith("(") and "Exchange" in line.split(")", 1)[-1].split("[")[0]
            )
            with run.tr.span(f"warm.{name}"):
                fns[name](spark, sf_dir).collect()
        run.out["exchanges"] = exchanges

    check_operator_suite(run, outputs, sf_dir, fixtures)


def check_operator_suite(run: Run, outputs: dict, sf_dir: str, fixtures: Path) -> None:
    import duckdb

    from data_profiler_spark import queries as Q
    from tools.oracle_check import TABLES, canon_rows

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = Q.oracle_sql()
    for name in OPERATOR_QUERIES:
        if name not in outputs:
            continue
        cols, rows, _ = outputs[name]
        srows = [tuple(r) for r in rows]
        if name not in oracles:
            run.check(f"check.{name}", len(srows) > 0, "no rows")
            continue
        sql = oracles[name].replace("/tmp/dps_fixture/", f"{fixtures}/")
        try:
            res = con.sql(sql)
            dcols, drows = [d[0] for d in res.description], res.fetchall()
        except Exception as exc:
            run.check(f"check.{name}", False, f"duckdb error: {type(exc).__name__}: {exc}")
            continue
        sc, sr = canon_rows(cols, srows)
        dc, dr = canon_rows(dcols, drows)
        run.check(f"check.{name}", sc == dc and sr == dr,
                  f"columns {sc} vs {dc}, {len(sr)} vs {len(dr)} rows")


# ======================================================================
# Per-layer metrics (traced runs)
# ======================================================================

def layer_metrics(run: Run) -> dict[str, float]:
    tr = run.tr
    jobs = fold_event_log(tr, run.run_dir / "eventlog")
    by_id = {s.id: s for s in tr.spans}

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def under(name: str, prefix: str) -> list:
        """Spans called ``name`` inside a span whose name starts with prefix."""
        return [s for s in tr.named(name)
                if any(a.name.startswith(prefix) for a in ancestors(s))]

    def dur(spans) -> float:
        return sum(s.duration for s in spans)

    def stats(spans):
        return job_totals(tr, jobs, spans)

    m: dict[str, float] = {}
    table_bytes = run.out.get("table_bytes") or 1

    m["session.build_s"] = tr.total("session.build")
    m["session.warm_jobs"] = stats(tr.named("session.build")).jobs

    # timed-region layers are per repetition of the timed job
    reps = max(1, len(tr.named("timed.rep")))
    prof = under("profile.scalar", "timed.rep") + under("profile.hist", "timed.rep")
    t = stats(prof)
    m["profile.scalar_s"] = dur(under("profile.scalar", "timed.rep")) / reps
    m["profile.hist_s"] = dur(under("profile.hist", "timed.rep")) / reps
    m["profile.jobs"] = t.jobs / reps
    m["profile.input_mb"] = t.input_bytes / MB / reps
    m["profile.executor_run_s"] = t.executor_run_s / reps
    m["profile.jvm_cpu_s"] = t.jvm_cpu_s / reps

    timed = ("timed.rep", "query.")
    val = [s for s in tr.named("validator.validate")
           if any(a.name.startswith(timed) for a in ancestors(s))]
    comp = [s for s in tr.named("validator.compile")
            if any(a.name.startswith(timed) for a in ancestors(s))]
    t = stats(val)
    m["validator.compile_s"] = dur(comp) / reps
    m["validator.validate_s"] = dur(val) / reps
    m["validator.jobs"] = t.jobs / reps
    m["validator.tasks"] = t.tasks / reps
    m["validator.input_mb"] = t.input_bytes / MB / reps
    m["validator.shuffle_write_mb"] = t.shuffle_write_bytes / MB / reps
    m["validator.spill_mb"] = t.spill_bytes / MB / reps
    m["validator.executor_run_s"] = t.executor_run_s / reps
    m["validator.jvm_cpu_s"] = t.jvm_cpu_s / reps
    m["validator.scan_ratio"] = t.input_bytes / (table_bytes * reps)
    m["validator.samples_prepare_s"] = dur(under("validator.samples_prepare", "timed.rep")) / reps
    samples = under("validator.samples", "timed.rep")
    m["validator.samples_s"] = dur(samples) / reps
    m["validator.samples_jobs"] = stats(samples).jobs / reps

    for fam in CONSTRAINT_FAMILIES:
        spans = tr.named(f"family.{fam}")
        t = stats(spans)
        m[f"{fam}.validate_s"] = dur(spans)
        m[f"{fam}.jobs"] = t.jobs
        m[f"{fam}.shuffle_write_mb"] = t.shuffle_write_bytes / MB

    full = tr.named("checkpoint.full")
    t = stats(full)
    m["checkpoint.run_s"] = dur(full)
    m["checkpoint.chunk_s"] = run.out.get("chunk_s", 0.0)
    m["checkpoint.jobs_per_chunk"] = t.jobs / run.out["chunks_per_run"] if full else 0.0
    m["checkpoint.scan_ratio"] = t.input_bytes / table_bytes
    m["checkpoint.compile_s"] = dur(under("validator.compile", "checkpoint.full"))
    m["checkpoint.validate_s"] = dur(under("validator.validate", "checkpoint.full"))
    m["checkpoint.resume_s"] = tr.total("checkpoint.resume")

    appends = under("results_store.append", "checkpoint.full")
    m["results_store.append_s"] = dur(appends)
    m["results_store.append_calls"] = len(appends)
    m["results_store.append_jobs"] = stats(appends).jobs
    cps = tr.named("results_store.completed_partitions")
    m["results_store.completed_partitions_s"] = dur(cps) / len(cps) if cps else 0.0
    m["results_store.noop_resume_s"] = tr.total("checkpoint.noop_resume")
    m["results_store.part_files"] = run.out.get("store_part_files", 0)
    m["results_store.mb"] = run.out.get("store_bytes", 0) / MB

    m["job.scaling_eff"] = run.out["measures"].get("scaling_eff", 0.0)

    for fam in FAMILIES:
        qs = [q for q, f in OPERATOR_QUERIES.items() if f == fam]
        cold = [s for q in qs for s in tr.named(f"query.{q}")]
        warm = [s for q in qs for s in tr.named(f"warm.{q}")]
        t = stats(cold)
        m[f"suite.{fam}.s"] = dur(cold)
        m[f"suite.{fam}.warm_s"] = dur(warm)
        m[f"suite.{fam}.jobs"] = t.jobs
        m[f"suite.{fam}.offcpu_s"] = max(0.0, t.executor_run_s - t.jvm_cpu_s)
        m[f"suite.{fam}.exchanges"] = sum(run.out.get("exchanges", {}).get(q, 0) for q in qs)

    attributed = {k for s in tr.spans for k in s.jobs}
    m["spark.failed_tasks"] = sum(j.counters.failed_tasks for j in jobs.values())
    m["spark.unattributed_jobs"] = len(set(jobs) - attributed)
    m["spark.jobs"] = len(jobs)
    run.out["self_s"] = tr.self_times()
    return m


WORKLOADS = {
    "north_validate": north_validate,
    "operator_suite": operator_suite,
}


def main() -> int:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    run = Run(cfg)
    try:
        WORKLOADS[cfg["workload"]](run)
    except OpFailed:
        pass  # recorded in the operation log; run.py counts what was left
    finally:
        run.finish()
    if cfg["trace"] and run.spark is not None:
        # after finish(): stopping the session completes the event log
        run.out["layers"] = layer_metrics(run)
        Path(cfg["result_path"]).write_text(json.dumps(run.out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
