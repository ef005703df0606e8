"""graft benchmark: one command, two workloads, end-to-end or traced metrics.

    python3 perfbench/run.py --workload scrape_load --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark driver (perfbench/build.py), runs the
workload in a fresh JVM on a tuned `GraftSession` with one closed-loop client
thread, checks the outputs (in the JVM against the generator's ground truth
and the program's own laws, then in DuckDB against the registry oracle SQL),
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones; every number comes from the run's own measurements.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("scrape_load", "curate_train")
# Spark executor threads, and the processor count the JVM sizes its GC and
# JIT threads by, so a run keeps to about two vCPUs.
CORES = max(1, min(2, os.cpu_count() or 1))
# set-up runs this many times per run; setup_s reports their median
PREPARE_REPS = 3
JVM_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "cpu_s_per_op": "s",
    "shuffle_mb_per_op": "MB", "peak_rss_mb": "MiB",
}
PER_LAYER_SPANS = [
    "html_tree.links", "scrape_pipeline.run", "parquet_sink.load", "parquet_sink.read",
    "curate.stage_table", "curate.contam_rungs", "curate.near_gate", "curate.fam_gate",
    "dedup.near_pairs", "graph.crawl_keep", "train_pipeline.pack_shuffle",
    "ivf.search", "sparse_index.search", "similarity.fuse",
    "ivf.append", "sparse_index.append", "ivf.compact", "sparse_index.compact",
]
PER_LAYER_SAMPLES = {
    "parquet_sink.files_written": "count", "parquet_sink.bytes_per_row": "B",
    "index_layout.live_units": "count", "index_layout.bytes_per_doc": "B",
    "functions.ws_tokens_ns_per_row": "ns", "functions.minhash_sig_ns_per_row": "ns",
    "functions.kgram_md5_hashes_ns_per_row": "ns", "functions.cosine_sim_ns_per_row": "ns",
    "functions.top_k_by_score_ns_per_row": "ns",
}
PER_OP_SPARK = {
    "spark.jobs_per_op": ("jobs", 1, "count"), "spark.stages_per_op": ("stages", 1, "count"),
    "spark.tasks_per_op": ("tasks", 1, "count"),
    "spark.codegen_compiles_per_op": ("codegen_compiles", 1, "count"),
    "spark.driver_gap_s_per_op": ("driver_gap_s", 1, "s"),
    "spark.executor_cpu_s_per_op": ("executor_cpu_s", 1, "s"),
    "spark.spill_mb_per_op": ("spill_bytes", 1e-6, "MB"),
}


def jvm_command(classes: Path, jars: Path, run_dir: Path, a) -> list:
    tmp = run_dir / "tmp"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # no hsperfdata file: the JVM writes nothing outside the run directory.
    # A fixed young generation and no pre-touch: VmHWM follows the old
    # generation and native memory the program fills, not GC sizing.
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m",
             f"-XX:ActiveProcessorCount={CORES}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main", a.workload, str(a.seed),
               str(a.seconds), str(a.trace), str(run_dir), str(CORES), str(PREPARE_REPS)])


def duck_checks(out: Path) -> list:
    """Registry oracle SQL in DuckDB over the run's own input files: the
    train_prep_e2e oracle for the checked manifest, and the hybrid_index_rrf
    oracle for the served hybrid of the traced index probe.
    """
    import duckdb
    checks = [(p, Path(f"{p}.sql"), Path(f"{p}.input").read_text())
              for p in (out / "manifest", out / "hybrid") if p.exists()]
    fails = []
    con = duckdb.connect()
    for got_dir, sql, docs in checks:
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
        want_rel = con.sql(sql.read_text())
        cols = want_rel.columns
        want = sorted(want_rel.fetchall())
        got = sorted(con.sql(f"SELECT {', '.join(cols)} FROM read_parquet('{got_dir}/*.parquet')").fetchall())
        if got != want:
            diff = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)
            fails.append(f"{got_dir.name}: {len(got)} rows vs oracle {len(want)}; first difference {diff}")
    return fails


def layer_table(spans: list) -> dict:
    """name -> [calls, total s, self s]; self time is a span's duration minus
    the part its child spans cover (children run one after another).
    """
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        row = out.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += d / 1e9
        row[2] += (d - child.get(s["id"], 0)) / 1e9
    return out


def metrics(res: dict, traced: bool) -> dict:
    ops = [o for o in res["ops"] if not o["probe"]]
    prim = [o for o in ops if o["kind"] == res["primary"] and "error" not in o]
    n = max(1, len(prim))
    lat = [o["s"] for o in prim]
    p50 = stats.median(lat) if lat else 0.0
    if not traced:
        vals = {
            "setup_s": res["session_start_s"] + stats.median(res["prepare_s"]) + res["warm_up_s"],
            "op_p50_s": p50,
            "items_per_s": stats.median([o["items"] / o["s"] for o in prim]) if prim else 0.0,
            "cpu_s_per_op": stats.median([o["cpu_s"] for o in prim]) if prim else 0.0,
            "shuffle_mb_per_op": sum(o["shuffle_bytes"] for o in ops) / 1e6 / n,
            "peak_rss_mb": res["peak_rss_kb"] / 1024,
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    m = {}
    for k, (field, scale, unit) in PER_OP_SPARK.items():
        m[k] = {"value": sum(o[field] for o in prim) * scale / n, "unit": unit}
    # like latencies, layer times come only from ops that did not fail
    failed = {o["id"] for o in res["ops"] if "error" in o}
    for name in PER_LAYER_SPANS:
        ds = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in res["spans"]
              if s["name"] == name and s["op"] not in failed]
        m[f"{name}_s"] = {"value": stats.median(ds) if ds else 0.0, "unit": "s"}
    for name, unit in PER_LAYER_SAMPLES.items():
        xs = res["samples"].get(name, [])
        m[name] = {"value": stats.median(xs) if xs else 0.0, "unit": unit}
    m["core.session_start_s"] = {"value": res["session_start_s"], "unit": "s"}
    m["jvm.gc_s_per_op"] = {"value": res["gc_s"] / n, "unit": "s"}
    m["jvm.heap_retained_mb"] = {"value": res["heap_retained_mb"], "unit": "MiB"}
    m["trace.op_p50_s"] = {"value": p50, "unit": "s"}
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.target_dir() / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        log = run_dir / "jvm.log"
        with open(log, "w") as f:
            jvm = subprocess.Popen(jvm_command(classes, jars, run_dir, a), cwd=run_dir, stdout=f,
                                   stderr=subprocess.STDOUT)
            # a terminated benchmark ends its JVM too
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
            try:
                rc = jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if jvm.poll() is None:
                    jvm.kill()
                    jvm.wait()
        result = run_dir / "result.json"
        text = log.read_text()
        print("\n".join(x for x in text.splitlines() if x.startswith("[perfbench")), file=sys.stderr)
        if rc != 0 or not result.exists():
            print(f"benchmark JVM failed ({rc}); log tail:\n{text[-4000:]}", file=sys.stderr)
            return 1
        res = json.loads(result.read_text())
        fails = list(res["check_failures"]) + duck_checks(run_dir / "out")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # probe ops only measure layers in the traced run: a failing probe makes
    # the run incorrect but is not one of the workload's operations
    fails += [f"{o['kind']}: {o['error']}" for o in res["ops"] if o["probe"] and "error" in o]
    ops = [o for o in res["ops"] if not o["probe"]]
    errors = {}
    for o in ops:
        if "error" in o:
            cls = o["error"].split(":")[0]
            errors[cls] = errors.get(cls, 0) + 1
    prim = [o["s"] for o in ops if o["kind"] == res["primary"] and "error" not in o]
    t = stats.tail(prim)
    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": res["cores"],
        "primary_op": res["primary"], "samples": len(prim), "rounds": res["rounds"],
        "timed_s": round(res["timed_s"], 3),
        "op_tail": {"percentile": t[0], "s": t[1]} if t else None,
        "steal_share": round(res["steal_share"], 4),
        "loadavg_1m": [res["loadavg_1m_start"], res["loadavg_1m_end"]],
        "failed_by_class": errors, "warm_up_errors": res["warm_up_errors"],
        "known_faults": res["known_faults"], "check_failures": fails,
    }
    if a.trace:
        print(f"{'layer':32} {'calls':>6} {'total_s':>9} {'self_s':>9}")
        for name, (calls, tot, self_s) in sorted(layer_table(res["spans"]).items(), key=lambda kv: -kv[1][2]):
            print(f"{name:32} {calls:6d} {tot:9.3f} {self_s:9.3f}")
    print("context: " + json.dumps(context))
    print(json.dumps({"correct": not fails, "attempted": len(ops),
                      "failed": sum(1 for o in ops if "error" in o),
                      "metrics": metrics(res, bool(a.trace))}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
