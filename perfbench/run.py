"""vertexspark benchmark. Run from the repository root:

    python3 perfbench/run.py --workload cascade|incremental --seed N \
        --seconds S --trace 0|1

It builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM at local[N] with N = min(4, available cores), checks
the outputs and prints, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are its per-layer
metrics, preceded by the span table and the per-batch growth table.

Everything the run writes lives under .bench_build/ in the repository root
and is deleted at the end. The run fails if it leaves anything on /dev/shm.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
# tier_1d digest of the cascade workload per seed, recorded from runs whose
# tier_1d matched the digest computed straight from the observations
DIGESTS = Path(__file__).resolve().parent / "digests.json"
WORKLOADS = ("cascade", "incremental")
TABLES = ("tier_1m", "tier_1h", "tier_1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h")
PANELS = ("hist_p99", "rate_1m", "history_1d", "pages_census")
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def shm_entries():
    try:
        return set(os.listdir("/dev/shm"))
    except OSError:
        return set()


def run_jvm(args, classpath, run_dir, out):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    # The JIT runs as deployed (tiered, C1 and C2); the workloads' warm-up
    # runs the hot loops before the timed region. A fixed heap and the
    # stop-the-world throughput collector keep heap resizing and concurrent
    # GC threads out of the timings.
    cmd = [build.java(), "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xss8m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--run-dir", str(run_dir), "--out", str(out)]
    with open(run_dir / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=args.seconds + 150)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        raise SystemExit(f"perfbench: JVM exited with {code}")
    return json.loads(out.read_text())


def end_to_end(rec):
    s, info = rec["samples"], rec["info"]
    commit_tail, commit_p = stats.tail(s["commit_s"])
    read_tail, read_p = stats.tail(s["read_ms"])
    info["tail_percentiles"] = {"batch_commit": [commit_p, len(s["commit_s"])],
                                "read": [read_p, len(s["read_ms"])]}
    return {
        "setup_s": (info["session_s"] + stats.median(s["gen_s"]) + info["warmup_s"], "s"),
        "cascade_seq_per_s": (sum(s["commit_seqs"]) / sum(s["commit_s"]), "seq/s"),
        "lake_bytes_per_seq": (stats.median(s["bytes_per_seq"]), "B/seq"),
        "batch_commit_p50_s": (stats.median(s["commit_s"]), "s"),
        "batch_commit_tail_s": (commit_tail, "s"),
        "read_p50_ms": (stats.median(s["read_ms"]), "ms"),
        "read_tail_ms": (read_tail, "ms"),
        "heap_live_mb": (info["heap_live_mb"], "MB"),
    }


def per_layer(rec):
    s, info, layer, spark = rec["samples"], rec["info"], rec["layer"], rec["spark"]
    spans = rec["spans"]
    by_name = {}
    for sid, name, parent, start, end in spans:
        by_name.setdefault(name, []).append((end - start) / 1e9)
    own = stats.self_time_by_name(spans)
    traced = len(s["commit_s_traced"])
    commits = len(s["commit_s"])
    traced_wall = sum((end - start) / 1e9 for _, name, parent, start, end in spans
                      if parent == 0 and name not in ("spark.job", "decomposition"))
    reads = s["read_ms"]
    quarter = max(1, len(reads) // 4)

    def per_batch(k):
        return spark.get(k, 0.0) / traced

    m = {
        "spark.plan_s": (per_batch("plan_s"), "s/batch"),
        "spark.jobs": (per_batch("jobs"), "count/batch"),
        "spark.stages": (per_batch("stages"), "count/batch"),
        "spark.tasks": (per_batch("tasks"), "count/batch"),
        "spark.sched_delay_s": (per_batch("sched_delay_s"), "s/batch"),
        "spark.task_run_s": (per_batch("task_run_s"), "s/batch"),
        "spark.task_cpu_s": (per_batch("task_cpu_s"), "s/batch"),
        "spark.gc_s": (per_batch("gc_s"), "s/batch"),
        "spark.shuffle_write_mb": (per_batch("shuffle_write_mb"), "MB/batch"),
        "spark.shuffle_read_mb": (per_batch("shuffle_read_mb"), "MB/batch"),
        "spark.fetch_wait_s": (per_batch("fetch_wait_s"), "s/batch"),
        "spark.spill_mb": (per_batch("spill_mb"), "MB/batch"),
        "spark.slot_busy_ratio": (spark.get("task_run_s", 0.0) /
                                  (traced_wall * info["cores"]), "ratio"),
        "spark.persisted_rdds_end": (info["persisted_rdds_end"], "count"),
        "sources.gen_s": (stats.median(s["gen_s"]), "s"),
        "tiers.fused_1m_s": (layer["tiers.fused_1m_s"], "s"),
        "tiers.merge_1h_s": (layer["tiers.merge_1h_s"], "s"),
        "tiers.merge_1d_s": (layer["tiers.merge_1d_s"], "s"),
        "tiers.merge_rows_in": (layer["tiers.merge_rows_in"] / commits, "rows/batch"),
        "tiers.merge_useful_ratio": (layer["tiers.merge_useful_rows"] /
                                     layer["tiers.merge_rows_in"], "ratio"),
        "functions.pages_s": (layer["functions.pages_s"], "s"),
        "compress.encode_ns_per_point": (layer["compress.encode_ns_per_point"], "ns/point"),
        "compress.decode_ns_per_point": (layer["compress.decode_ns_per_point"], "ns/point"),
        "compress.bytes_per_point": (layer["compress.bytes_per_point"], "B/point"),
        "lake.append_s": (own.get("lake.append", 0) / 1e9, "s"),
        "lake.expire_s": (stats.median(s["expire_s"]), "s"),
        "lake.resume_discard_rows": (layer["lake.resume_discard_rows"] / commits,
                                     "rows/batch"),
        "lake.list_ms": (stats.median(by_name["lake.list"]) * 1e3, "ms"),
        "lake.read_plan_ms": (stats.median(by_name["lake.read_plan"]) * 1e3, "ms"),
        "lake.partitions": (layer["lake.partitions"], "count"),
        "lake.files": (layer["lake.files"], "count"),
        "read.rows_scanned_per_row": (layer["read.rows_scanned"] / layer["read.rows"], "ratio"),
        "dashboard.build_s": (stats.median(by_name["dashboard.build"]), "s"),
        "dashboard.exec_s": (stats.median(by_name["dashboard.exec"]), "s"),
        "dashboard.drift": (stats.median(reads[-quarter:]) / stats.median(reads[:quarter]),
                            "ratio"),
        "baseline.cascade_seq_per_s_1t": (layer["baseline.cascade_seq_per_s_1t"], "seq/s"),
        "trace.overhead_ratio": (stats.median(s["commit_s_traced"]) /
                                 stats.median(s["commit_s_untraced"]), "ratio"),
    }
    for t in TABLES:
        m[f"lake.bytes.{t}"] = (layer[f"lake.bytes.{t}"], "B")
    for p in PANELS:
        m[f"dashboard.{p}_s"] = (stats.median(by_name[f"read.{p}"]), "s")
    return m, own, by_name


def print_trace_tables(rec, own, by_name):
    print("spans (traced iterations and the decomposition pass):")
    print(f"  {'name':<28}{'count':>7}{'total_s':>10}{'self_s':>10}")
    for name in sorted(by_name, key=lambda n: -sum(by_name[n])):
        print(f"  {name:<28}{len(by_name[name]):>7}{sum(by_name[name]):>10.3f}"
              f"{own.get(name, 0) / 1e9:>10.3f}")
    layer = rec["layer"]
    kernels = sum(layer[k] for k in ("tiers.fused_1m_s", "tiers.merge_1h_s", "tiers.merge_1d_s",
                                     "functions.pages_s"))
    print(f"kernels alone (fused 1m + merges + pages, noop sink) {kernels:.3f} s = "
          f"{kernels / stats.median(rec['samples']['commit_s_traced']):.2f} of the median "
          f"traced commit wall")
    if rec["per_op"]:
        print("per batch (day, commit wall, rows merged, useful share of them):")
        for op in rec["per_op"]:
            print(f"  {op['day']}  commit {op['commit_s']:.3f} s  merged {op['merge_rows_in']:>8}"
                  f"  useful {op['merge_useful_ratio']:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    shm_before = shm_entries()
    run_dir = build.BUILD_DIR / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        rec = run_jvm(args, classpath, run_dir, run_dir / "record.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    left = shm_entries() - shm_before
    if left:
        raise SystemExit(f"perfbench: the run left {sorted(left)} on /dev/shm")

    attempted, failed = rec["attempted"], rec["failed"]
    failures = list(rec["failures"])
    recorded = json.loads(DIGESTS.read_text()).get(str(args.seed))
    if args.workload == "cascade" and recorded:
        attempted += 1
        if rec["info"].get("tier_1d_digest") != recorded:
            failed += 1
            failures.append(f"tier_1d digest {rec['info'].get('tier_1d_digest')} "
                            f"!= recorded {recorded}")
    if args.trace:
        metrics, own, by_name = per_layer(rec)
        print_trace_tables(rec, own, by_name)
    else:
        metrics = end_to_end(rec)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if declared != {k: u for k, (_, u) in metrics.items()}:
        raise SystemExit("perfbench: the metrics differ from those BENCHMARK.json declares")
    info = rec["info"]
    print(f"workload {args.workload} seed {args.seed} cores {info['cores']} "
          f"iterations {info['iterations']} seqs/batch {info['seqs_per_batch']} "
          f"measured {info['measured_s']:.1f} s; partitions expired "
          f"{info.get('expired_partitions', 0)}; error_rate "
          f"{stats.error_rate(attempted, failed):.4f} ({failed}/{attempted})")
    print("phases [s]: session {:.1f}, generation {}, prepare {:.1f}, warm-up {:.1f}, loop {:.1f}, "
          "checks after the loop {:.1f}".format(
              info["session_s"], [round(g, 1) for g in rec["samples"]["gen_s"]], info["prepare_s"],
              info["warmup_s"], info["measured_s"], info["finish_s"]))
    if "tail_percentiles" in info:
        print(f"tail percentiles [p, samples]: {info['tail_percentiles']}")
    for k in ("commit_s", "read_ms"):
        print(f"{k}: {[round(v, 3) for v in rec['samples'][k]]}")
    if "tier_1d_digest" in info:
        print(f"tier_1d digest: {info['tier_1d_digest']}")
    for f in failures:
        print(f"FAILED: {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
