#!/usr/bin/env python3
"""The repository benchmark: one workload per run, end-to-end metrics on
an untraced run, per-layer metrics on a traced one.

    python3 perfbench/run.py --workload mr_core --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Workloads (BENCHMARK.json says why each was chosen; perfbench/metrics.json
gives their ops and input sizes, the metric definitions, and which
end-to-end metric each layer metric should move): mr_core, sql_short,
text_ingest. The query workloads read the read-only sf0.01 tables listed in
TESTDATA.md (or $GRAFT_BENCH_SF_DIR).

Each run builds the engine and the benchmark from source (build.py), starts
one JVM on local[nproc], and checks every output outside the timed region:
MR jobs and the direct upsert loop in the JVM against plain Scala folds,
query results here against the DuckDB oracle SQL in SparkEntry.oracleSql.
The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; earlier lines print every
metric with its unit, each op's time and the host context. The run writes
only under .perfbench/ and the build directory, and removes its per-run
working directory when it ends.

--self-check runs every workload on tiny inputs, pins each metric name and
unit against BENCHMARK.json, and confirms a planted wrong result is caught.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ["mr_core", "sql_short", "text_ingest"]
QUERY_WORKLOADS = {"sql_short", "text_ingest"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 160
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sf_dir(smoke: bool) -> Path:
    """The sf0.01 tables (sf0.001 for the self-check): the directory
    TESTDATA.md lists for that scale factor, or $GRAFT_BENCH_SF_DIR (its
    sf0.001 sibling for the self-check)."""
    want = "0.001" if smoke else "0.01"
    env = os.environ.get("GRAFT_BENCH_SF_DIR")
    if env:
        sf = Path(env).parent / f"sf{want}" if smoke else Path(env)
    else:
        doc = ROOT / "TESTDATA.md"
        listed = re.findall(rf"\|\s*{re.escape(want)}\s*\|\s*`([^`]+)`",
                            doc.read_text() if doc.is_file() else "")
        sf = Path(listed[0]) if listed else None
    if sf is None or not all((sf / f"{t}.parquet").exists() for t in TABLES):
        raise SystemExit(f"perfbench: sf{want} input tables not found ({sf})")
    return sf


def git_head() -> str:
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes: Path, args: dict, run_dir: Path) -> dict:
    jars = build.spark_jars()
    tmp, out = run_dir / "tmp", run_dir / "out"
    tmp.mkdir(parents=True)
    out.mkdir(parents=True)
    args = dict(args, tmp=tmp, out=out)
    cmd = (["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        def stop(*_):  # a runner stopped from outside takes its JVM with it
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(2)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    res = out / "result.json"
    if rc != 0 or not res.exists():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    return json.loads(res.read_text())


# ---- DuckDB oracle (normalization as in tools/compare.py) ----------------

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _diff(s, o) -> str:
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype) != str(ov.dtype):
            return f"dtype {c}: {sv.dtype} != {ov.dtype}"
        if not sv.equals(ov):
            neq = (sv != ov) & ~(sv.isna() & ov.isna())
            if int(neq.sum()):
                return f"value {c}"
    return ""


def oracle_frame(con, sql: str, sf: Path):
    """DuckDB's result for `sql`, cached per (SQL text, input files): the
    query workloads' inputs are fixed, and a few oracles (q20, q69) take
    tens of seconds."""
    import pandas as pd
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = (sf / f"{t}.parquet").stat()
        h.update(f"{sf}/{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    cached = STATE / "oracle" / f"{h.hexdigest()}.pkl"
    if cached.is_file():
        return pd.read_pickle(cached)
    df = con.execute(sql).fetchdf()
    cached.parent.mkdir(parents=True, exist_ok=True)
    tmp = cached.with_suffix(f".{os.getpid()}.tmp")
    df.to_pickle(tmp)
    tmp.replace(cached)
    return df


def oracle_check(sf: Path, out: Path) -> dict:
    """Name -> mismatch text ('' when equal) for every dumped query result."""
    import duckdb
    import pandas as pd
    res_dir = out / "results"
    if not res_dir.is_dir():
        return {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.loads((out / "oracle_sql.json").read_text())
    verdict = {}
    for d in sorted(res_dir.iterdir()):
        name = d.name
        parts = sorted(d.glob("*.parquet"))
        spark = (pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
                 if parts else pd.DataFrame())
        try:
            if name in oracle:
                verdict[name] = _diff(_norm(spark), _norm(oracle_frame(con, oracle[name], sf)))
            elif name.startswith("q37_"):
                # rows-only by design: one row per return flag
                want = sorted(r[0] for r in con.execute(
                    "SELECT DISTINCT l_returnflag FROM lineitem").fetchall())
                got = sorted(spark["l_returnflag"].tolist())
                verdict[name] = "" if got == want else f"flags {got} != {want}"
            elif name.startswith("q113_"):
                # rows-only by design: one row per profiled column, exact
                # row and null counts
                bad = []
                for _, r in spark.iterrows():
                    c = r["column_name"]
                    n, nn = con.execute(
                        f'SELECT count(*), count(*) - count("{c}") FROM lineitem').fetchone()
                    if (r["n_rows"], r["n_nulls"]) != (n, nn):
                        bad.append(c)
                ok = len(spark) > 0 and spark["column_name"].is_unique and not bad
                verdict[name] = "" if ok else f"profile rows {len(spark)} bad {bad}"
            else:
                verdict[name] = "" if len(spark) > 0 else "no oracle and zero rows"
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"oracle error {e}"
    return verdict


# ---- metrics ---------------------------------------------------------------

def tail(durs: list):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(durs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def summarize(res: dict, verdict: dict, trace: bool, spec: dict) -> dict:
    ops = res["ops"]
    durs = [o["dur_s"] for o in ops]
    failed_ops = sum(1 for o in ops if not o["ok"])
    wrong = list(res["wrong"]) + [n for n, v in verdict.items() if v]
    attempted = max(1, len(ops))
    failed = min(attempted, failed_ops + len(wrong))
    t_val, t_pct, t_n = tail(durs) if durs else (0.0, 0.0, 0)
    e2e = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "wall_s": (res["wall_s"], "s"),
        "op_p50_s": (statistics.median(durs) if durs else 0.0, "s"),
        "op_tail_s": (t_val, "s"),
        "cpu_s": (res["cpu_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
        "wrong_results": (len(wrong), "count"),
    }
    for k, (v, u) in e2e.items():
        extra = f" (p{t_pct:.1f} of n={t_n})" if k == "op_tail_s" else ""
        print(f"e2e {k} = {v} {u}{extra}")
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["dur_s"])
    for n, ds in sorted(by_name.items(), key=lambda kv: -statistics.median(kv[1])):
        print(f"op {n} median {statistics.median(ds):.3f} s of {len(ds)}")
    for n, v in sorted(verdict.items()):
        if v:
            print(f"wrong {n}: {v}")
    for n in res["wrong"]:
        print(f"wrong {n}")
    for o in ops:
        if not o["ok"]:
            print(f"failed {o['name']}: {o['error'][:300]}")
    if trace:
        for k, m in res["layers"].items():
            print(f"layer {k} = {m['value']} {m['unit']}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    source = {k: {"value": m["value"], "unit": m["unit"]} for k, m in res["layers"].items()}
    source.update({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
    metrics = {m["name"]: source[m["name"]] for m in want if m["name"] in source}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def one_run(a, spec: dict, plant: bool = False) -> dict:
    sf = sf_dir(a.smoke)
    classes = build.build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = STATE / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        context = {"workload": a.workload, "seed": a.seed, "nproc": cpus,
                   "git_head": git_head(), "trace": a.trace}
        res = run_jvm(classes, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": cpus, "sf": sf,
            "smoke": int(a.smoke), "plant": int(plant),
            "clk-tck": os.sysconf("SC_CLK_TCK")}, run_dir)
        context.update(res["host"])
        context["phases_s"] = res["phases_s"]
        context["setup_s"] = res["setup_s"]
        print("context " + json.dumps(context, sort_keys=True))
        verdict = oracle_check(sf, run_dir / "out") if a.workload in QUERY_WORKLOADS else {}
        if a.trace and res.get("spans"):
            spans = STATE / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
            spans.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(res["spans"], spans)
            print(f"spans {spans.relative_to(ROOT)}")
        return summarize(res, verdict, bool(a.trace), spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def self_check(spec: dict) -> int:
    """Tiny inputs: every metric name and unit present, plants caught."""
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            a = argparse.Namespace(workload=w, seed=7, seconds=1, trace=trace, smoke=True)
            out = one_run(a, spec)
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: m["unit"] for k, m in out["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(want) ^ set(got))} "
                                f"or units differ")
            if not out["correct"]:
                problems.append(f"{w} trace={trace}: smoke run not correct")
            if any(not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])
                   for m in out["metrics"].values()):
                problems.append(f"{w} trace={trace}: non-finite metric")
        a = argparse.Namespace(workload=w, seed=7, seconds=1, trace=0, smoke=True)
        planted = one_run(a, spec, plant=True)
        if planted["correct"] or planted["failed"] < 1:
            problems.append(f"{w}: planted wrong result not caught")
    for p in problems:
        print("self-check: " + p)
    print("self-check: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        raise SystemExit("perfbench: BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    if a.self_check:
        return self_check(spec)
    if not a.workload:
        ap.error("--workload is required")
    a.smoke = False
    t0 = time.time()
    result = one_run(a, spec)
    print(f"elapsed_s {time.time() - t0:.1f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
