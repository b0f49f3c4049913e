#!/usr/bin/env python3
"""bm25spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload {search,catalog} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run compiles the library and the
benchmark with sbt into perfbench/target; later runs reuse the classes while
the sources are unchanged. Each run starts one JVM with Spark on
local[<cores>], prints progress on stderr and, as the last stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics; --trace 1 registers a SparkListener and reports the
per-layer metrics, and writes the spans to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["search", "catalog"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("p50_ms", "ms"),
    ("index_bytes_per_input_byte", "ratio"),
    ("rss_peak_mb", "MB"),
]

CATALOG_QUERIES = [
    "dedup_clusters", "dedup_embedding_cosine", "dedup_exact", "dedup_jaccard_block",
    "dedup_minhash_pairs", "dedup_minhash_sig", "dedup_minhash_verified", "dedup_simhash",
    "evt_sessionize", "evt_window_agg", "ft_avgdl_by_lang", "ft_bm25_topk",
    "ft_compacted_topk", "ft_df_topterms", "ft_lifecycle_topk", "ft_search_real",
    "ft_token_counts", "mm_binary_meta", "mm_feature_embed", "mm_frame_sample",
    "mm_resize_meta", "pipe_pack_bins", "pipe_sample_mix", "rel_join_topn", "rel_q1_agg",
    "rel_window_running", "sim_ann_ivf", "sim_ann_lsh", "sim_cosine_topk",
    "textq_fingerprint", "textq_langid", "textq_quality", "textq_repetition",
    "textq_tokencount_bpe",
]

PER_LAYER = [
    ("text.tokenize_docs_per_s", "docs/s"),
    ("bm25.term_freqs_docs_per_s", "docs/s"),
    ("codec.encode_postings_per_s", "postings/s"),
    ("codec.decode_postings_per_s", "postings/s"),
    ("build.forward_s", "s"),
    ("build.postings_s", "s"),
    ("build.termstats_s", "s"),
    ("build.jobs", "count"),
    ("build.tasks", "count"),
    ("build.task_run_s", "s"),
    ("build.gc_s", "s"),
    ("build.core_busy_ratio", "ratio"),
    ("build.shuffle_write_bytes", "bytes"),
    ("build.shuffle_read_bytes", "bytes"),
    ("build.spill_bytes", "bytes"),
    ("build.bytes_per_posting", "bytes"),
    ("index.query_terms_ms", "ms"),
    ("index.termdfs_ms", "ms"),
    ("index.wand_ms", "ms"),
    ("index.wand_jobs", "count"),
    ("index.wand_tasks", "count"),
    ("index.wand_task_run_ms", "ms"),
    ("index.wand_shuffle_bytes", "bytes"),
    ("index.wand_core_busy_ratio", "ratio"),
    ("index.blocks_total", "count"),
    ("index.blocks_skipped", "count"),
    ("index.blocks_skipped_ratio", "ratio"),
    ("api.search_ms", "ms"),
    ("api.search_jobs", "count"),
    ("api.search_tasks", "count"),
    ("api.resolve_ms", "ms"),
    ("api.upsert_ms", "ms"),
    ("api.remove_ms", "ms"),
    ("api.get_ms", "ms"),
    ("api.get_jobs", "count"),
    ("api.live_search_ms", "ms"),
    ("api.live_search_jobs", "count"),
    ("api.live_search_tasks", "count"),
    ("api.log_files", "count"),
    ("api.bytes_written_per_user_byte", "ratio"),
    ("compact.s", "s"),
    ("compact.jobs", "count"),
    ("compact.task_run_s", "s"),
    ("compact.shuffle_write_bytes", "bytes"),
    ("compact.spill_bytes", "bytes"),
] + [m for q in CATALOG_QUERIES for m in ((f"catalog.{q}_s", "s"), (f"catalog.{q}_jobs", "count"))] + [
    ("catalog.task_run_s", "s"),
    ("catalog.core_busy_ratio", "ratio"),
    ("catalog.shuffle_bytes", "bytes"),
    ("catalog.spill_bytes", "bytes"),
    ("trace.overhead_ratio", "ratio"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the benchmark build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """The Spark installation whose jars the library compiles and runs on."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: set SPARK_HOME to a Spark installation (with jars/)")
    return home


def build():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    log("compiling the library and the benchmark with sbt")
    t = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.autostart=false", "compile"],
                        HERE, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0:
        raise SystemExit(f"sbt compile failed with code {code}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t:.0f} s")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no library sources under src/main/scala/graft; "
                 "run from the root of a bm25spark checkout")

    spark = spark_home()
    classes = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: a growing one resizes at different moments in each
        # run and spreads the latencies by 15-20%
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", os.pathsep.join([classes, os.path.join(spark, "jars", "*")]),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out_dir])
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.decode().splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        sys.exit(f"perfbench: the JVM printed no result (exit code {code})")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = [n for n, _ in wanted if n not in res["metrics"]]
    if a.trace:
        # a layer the workload does not exercise did no work
        res["metrics"].update({n: 0.0 for n in missing})
    elif missing:
        sys.exit(f"perfbench: metrics missing from the run: {missing}")
    result = {
        "correct": bool(res["correct"]) and code == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": res["metrics"][n], "unit": u} for n, u in wanted},
    }
    if not result["correct"]:
        log("CORRECTNESS CHECK FAILED; see the CHECK FAILED / OP FAILED lines above")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
