#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and harness if needed (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the harness
JVM (one GraftSession on local[N], N = min(4, cores)), checks every query
result of the warm-up pass against the DuckDB oracle SQL the library
declares (`SparkEntry.oracleSql`, compared with the rules of
tools/check_oracle.py), and prints a report followed by one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. README.md in this directory describes workloads and metrics.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from typing import NamedTuple

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Family lists, by the rules in README.md. A run cannot afford a whole
# family within the time budget, so each workload takes every `stride`-th
# name of each alphabetical family list, starting at the first. The
# sample is by position only: a query is never dropped because it fails
# or because it is slow.
FAMILIES = {
    "frame": (
        "q_abs q_applymap q_assign_align q_assign_overwrite q_astype "
        "q_bool_coercion q_clip q_cmp q_cmp_null q_col_reduce q_combine_first "
        "q_concat q_corr_matrix q_cube q_cut q_describe q_dropna "
        "q_dt_parts q_dt_parts2 q_dummies q_duplicated q_fill_value "
        "q_group_quantile q_groupby_agg q_head q_ieee_div q_isin_str q_isna "
        "q_json_source q_len q_melt q_merge_left q_merge_semi q_nlargest "
        "q_nunique q_pivot_sum q_pow_mod q_quantile q_replace q_rollup "
        "q_round q_scalar_arith q_series_prefix q_set_index q_set_ops "
        "q_sort_topk q_str_ops q_str_ops2 q_tail q_tail_onepass "
        "q_transform q_value_counts q_where_mask q_where_other q_winsorize"),
    "corpus": (
        "q_bm25 q_bpe_encode q_containment q_emb_dedup q_filtered_topk "
        "q_gopher q_hybrid_topk q_ivfpq_topk q_jaccard_pairs q_minhash_pairs "
        "q_near_dup q_pii q_pq_topk q_quality_filter q_semantic_dedup "
        "q_simhash q_text_clean q_tfidf"),
    "iterate_mutate": (
        "q_bm25_append q_bm25_compact q_bm25_delete q_bm25_indexed "
        "q_communities q_hits q_image_index q_ivf_append q_ivf_delete "
        "q_ivf_indexed q_ivfpq_append q_kcenter q_kcore q_kmeans_iter "
        "q_logreg q_neardup_indexed q_node2vec2 q_pagerank q_power_iter "
        "q_pq_trained q_text_lr q_trustrank q_walks"),
    "stream": (
        "q_stream_attribution q_stream_auc q_stream_bm25 q_stream_budget "
        "q_stream_cdc q_stream_confusion q_stream_curation q_stream_cusum "
        "q_stream_decontaminate q_stream_dedup q_stream_distinct q_stream_dp "
        "q_stream_dp2 q_stream_enrich q_stream_ewma q_stream_funnel "
        "q_stream_heavy q_stream_holt q_stream_image q_stream_ivf "
        "q_stream_join q_stream_ks q_stream_latest q_stream_neardup "
        "q_stream_novel q_stream_ohlc q_stream_pit q_stream_probe "
        "q_stream_psi q_stream_sample q_stream_sessionize "
        "q_stream_sessions_native q_stream_trending q_stream_ttest "
        "q_stream_validate q_stream_window"),
}


class Workload(NamedTuple):
    sf: float            # scale factor of the star schema and events
    corpus_rows: int     # documents/embeddings rows per corpus copy
    copies: int          # corpus copies
    sample: list         # [(family, stride)]
    settle_passes: int   # untimed passes after the warm-up
    timed_passes: int    # fixed, so a faster program does not run more


# Sub-second frame queries keep speeding up for a few passes after the
# cold one, hence the settle pass. Lists and pass counts keep a run under
# about 50 s (frame_core) or 80 s (corpus_10x) on a busy 4-core box; the
# corpus_10x oracle check alone takes ~13 s, 10 s of it q_jaccard_pairs.
WORKLOADS = {
    "frame_core": Workload(0.01, 500, 1, [("frame", 4)], 1, 3),
    "corpus_10x": Workload(0.01, 50, 10, [("corpus", 4), ("iterate_mutate", 12),
                                          ("stream", 36)], 0, 2),
}

END_TO_END = {"setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s",
              "query_tail_s": "s", "ok_rate": "fraction"}
PER_LAYER = {
    "inputs.gen_s": "s",
    "entry.build_ms": "ms", "entry.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "functions.fallback_exprs": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_ms": "ms",
    "scheduler.driver_gap_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    "task.input_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "bytes",
    "storage.write_bytes": "bytes", "storage.write_rows": "count",
    "catalog.commands": "count", "catalog.command_ms": "ms",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_ms": "ms",
    "streaming.lifecycle_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.peak_heap_mb": "MB",
    "trace.overhead_pct": "%",
}
# counters that must repeat exactly between traced runs of the same code
DETERMINISTIC = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                 "catalyst.executions", "functions.fallback_exprs",
                 "catalog.commands", "streaming.batches"]
JVM_TIMEOUT_S = 160
CPUS = min(4, os.cpu_count() or 1)  # local[CPUS]


def queries(workload):
    out = []
    for family, stride in WORKLOADS[workload].sample:
        out += sorted(FAMILIES[family].split())[::stride]
    return out


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_harness(cp, names, inputs, out, tmp, seed, seconds, wl, trace):
    for d in ("java-tmp", "warehouse", "spark-local"):
        os.makedirs(os.path.join(tmp, d))
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}/java-tmp",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dspark.local.dir={tmp}/spark-local",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Harness",
           "--queries", ",".join(names), "--inputs", inputs, "--out", out,
           "--seed", str(seed), "--seconds", str(seconds),
           "--settle", str(wl.settle_passes),
           "--passes", str(wl.timed_passes),
           "--trace", str(trace), "--cpus", str(CPUS)]
    with open(os.path.join(tmp, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=tmp)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(tmp, "harness.log")) as f:
            log(f.read()[-4000:])
        sys.exit(f"harness failed ({code})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(inputs, out, names):
    """{query: None if its warm-up output matches the oracle, else why}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle as co
    import duckdb
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(inputs, t + '.parquet')}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = os.path.join(out, "results")
    verdict = {}
    for name in names:
        if name not in oracle:
            df = co.load_spark(results, name)
            verdict[name] = None if df is not None and len(df) else "no rows"
            continue
        typed = io.StringIO()
        with contextlib.redirect_stdout(typed):
            type_fails = co.typecheck(con, {name: oracle[name]}, results)
        try:
            msg = co.compare(name, co.load_spark(results, name),
                             con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an oracle error is a failed check too
            msg = f"{name}: ORACLE SQL ERROR {e}"
        ok = "OK" in msg and type_fails == 0
        verdict[name] = None if ok else (typed.getvalue().strip() or msg)
    con.close()
    return verdict


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all
    order statistics with Beta(p(n+1), (1-p)(n+1)) weights. Unlike a single
    order statistic it does not jump when two queries of similar cost swap
    rank."""
    xs = np.sort(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max())), [0.0]])
    cdf[-1] = cdf[-2]
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, 20001), cdf)
    return float(np.dot(np.diff(edges), xs))


def tail(walls):
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it, over n >= 11 samples."""
    n = len(walls)
    if n < 11:
        return max(walls), 100.0, 0
    p = (n - 10) / n
    return quantile(walls, p), 100.0 * p, 10


def end_to_end(res, attempted, failed):
    walls = [e["wall_s"] for p in res["timed"] for e in p["execs"]]
    t, pct, beyond = tail(walls)
    return {
        "setup_s": res["session_s"] + res["warmup_s"],
        # median over passes, so one disturbed pass does not move it
        "queries_per_s": statistics.median(
            sum(e["error"] is None for e in p["execs"]) /
            sum(e["wall_s"] for e in p["execs"]) for p in res["timed"]),
        "query_p50_s": quantile(walls, 0.5),
        "query_tail_s": t,
        "ok_rate": (attempted - failed) / attempted,
    }, {"query_tail_percentile": pct, "query_tail_beyond": beyond,
        "timed_executions": len(walls), "timed_passes": len(res["timed"])}


def per_layer(res, gen_s):
    passes = res["traced"]
    execs = [e for p in passes for e in p["execs"]]
    m = {k: 0.0 for k in PER_LAYER}
    for e in execs:
        for k, v in e["layers"].items():
            if k == "jvm.peak_heap_mb":
                m[k] = max(m[k], v)
            elif k in m:
                m[k] += v
    for k in m:
        if k != "jvm.peak_heap_mb":
            m[k] /= len(passes)  # per pass over the workload's query list
    # traced and untraced passes alternate in pairs (untraced first, then
    # traced first, ...); pass walls include the tracer's bus drains
    untraced = statistics.mean(p["pass_s"] for p in res["timed"])
    traced = statistics.mean(p["pass_s"] for p in passes)
    m["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0)
    m["inputs.gen_s"] = gen_s
    return m


def split(res, m):
    """Where a traced pass's query wall time goes, as shares of it."""
    wall_ms = 1e3 * statistics.mean(sum(e["wall_s"] for e in p["execs"])
                                    for p in res["traced"])
    catalyst = sum(m[k] for k in ("catalyst.analysis_ms",
                                  "catalyst.optimizer_ms",
                                  "catalyst.planning_ms"))
    return (f"of {wall_ms / 1e3:.2f} s query wall per pass: "
            f"builder calls {m['entry.build_ms'] / wall_ms:.0%}, "
            f"no job running {m['scheduler.driver_gap_ms'] / wall_ms:.0%}, "
            f"Catalyst {catalyst / wall_ms:.0%}, "
            f"codegen {m['codegen.compile_ms'] / wall_ms:.0%}; "
            f"task CPU {m['task.cpu_ms'] / (wall_ms * CPUS):.0%} "
            f"of {CPUS} cores")


def query_rows(res):
    """Per query, the deterministic counters per traced execution."""
    rows = {}
    for e in (e for p in res["traced"] for e in p["execs"]):
        row = rows.setdefault(e["name"], dict.fromkeys(DETERMINISTIC, 0.0))
        for k in DETERMINISTIC:
            row[k] += e["layers"].get(k, 0.0) / len(res["traced"])
    return dict(sorted(rows.items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t = time.time()
    cp = build.build()
    log(f"[bench] build ready in {time.time() - t:.1f} s")

    wl = WORKLOADS[a.workload]
    names = queries(a.workload)
    os.makedirs(build.BUILD, exist_ok=True)
    tmp = os.path.join(build.BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        inputs, out = os.path.join(tmp, "inputs"), os.path.join(tmp, "out")
        t = time.time()
        rows = gen.generate(inputs, a.seed, wl.sf, wl.corpus_rows, wl.copies)
        gen_s = time.time() - t
        log(f"[bench] inputs seed={a.seed} sf={wl.sf} "
            f"corpus={wl.corpus_rows}x{wl.copies} "
            f"rows={rows} sha256={gen.content_hash(inputs)[:16]} "
            f"generated in {gen_s:.2f} s")
        t = time.time()
        res = run_harness(cp, names, inputs, out, tmp, a.seed, a.seconds,
                          wl, a.trace)
        log(f"[bench] harness JVM ran {time.time() - t:.1f} s")
        t = time.time()
        verdict = oracle_check(inputs, out, names)
        log(f"[bench] oracle check took {time.time() - t:.1f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    later = res["settle"] + res["timed"] + res["traced"]
    errors = [(e["name"], e["error"]) for p in later
              for e in p["execs"] if e["error"]]
    crashed = {e["name"]: e["error"]
               for e in res["warmup"]["execs"] if e["error"]}
    wrong = [(n, crashed.get(n, why)) for n, why in verdict.items() if why]
    attempted = sum(len(p["execs"]) for p in [res["warmup"]] + later)
    failed = len(wrong) + len(errors)
    e2e, tail_info = end_to_end(res, attempted, failed)
    metrics = (per_layer(res, gen_s) if a.trace else e2e)
    units = PER_LAYER if a.trace else END_TO_END

    print(f"workload {a.workload}: {len(names)} queries, seed {a.seed}, "
          f"{tail_info['timed_passes']} timed passes, "
          f"box {json.dumps(res['sentinel'])}")
    for n, why in wrong + errors:
        print(f"FAILED {n}: {why}")
    for k, v in e2e.items():
        print(f"  {k:<26} {v:.6g} {END_TO_END[k]}")
    print(f"  query_tail_s is p{tail_info['query_tail_percentile']:.1f} of "
          f"{tail_info['timed_executions']} executions "
          f"({tail_info['query_tail_beyond']} beyond)")
    if a.trace:
        for k, v in metrics.items():
            print(f"  {k:<26} {v:.6g} {PER_LAYER[k]}")
        print("  split " + split(res, metrics))
        for n, row in query_rows(res).items():
            print(f"  row {n} " + " ".join(f"{k}={v:g}" for k, v in row.items()))
    record = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    line = json.dumps(record)
    back = json.loads(line)  # the record must parse back as printed
    assert set(back) == {"correct", "attempted", "failed", "metrics"}
    assert set(back["metrics"]) == set(units)
    print(line, flush=True)


if __name__ == "__main__":
    main()
