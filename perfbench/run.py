#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one fresh JVM, one JSON line.

Usage:
  python3 perfbench/run.py --workload <query_session|ingest>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the harness
(`perfbench/build.py`). Every run generates its inputs from the seed into a
fresh directory under `perfbench/work/`, starts one JVM with a fixed,
pre-touched heap, a fresh artifact-store root and fresh scratch, runs the
workload as a closed loop for `--seconds`, checks the outputs outside the
timed window, and prints one JSON object as its last stdout line: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The full record of the run (every measured value, the host weather, check
details) is kept in `perfbench/work/records/`. The exit code is non-zero when
any operation or check failed.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
CORES = os.cpu_count() or 4
HEAP = "3g"
JVM_TIMEOUT_S = 165

WORKLOADS = {
    # one client, closed loop over a family-stratified query sample at sf0.01
    "query_session": {"sf": 0.01, "min_rounds": 2, "rounds": 40},
    # the write side: one ELT chain run on landing CSVs of ~60k line items,
    # then three streaming drains of a many-file events directory per pass
    "ingest": {"sf": 0.01, "rows": 100_000, "files": 6, "max_files_per_trigger": 1,
               "min_rounds": 2},
}

# Each `SparkEntry.defGroups` family's eligible queries for `query_session`:
# those whose round-1 cost, measured once in a warmed-up JVM at local[4] on
# seeded sf0.01 inputs with a fresh artifact store and an empty `Memo`, was at
# most 0.6 s; a family with none contributes its cheapest query (`jdbc` 1.2 s,
# `layout` 0.8 s, `graph` 1.6 s). The band keeps one
# session inside the run budget and keeps the sample's total cost nearly the
# same from seed to seed. The order is the families' order in `defGroups`.
POOLS = {
    "relational": ["q04_quality_rules", "q06_anti_join", "q07_intersect_users",
                   "q08_union_sources", "q09_revenue_derived", "q10_clv", "q12_rfm",
                   "q13_loyalty_rollup", "q16_topk_orders", "q17_schema_canonicalize"],
    "windows": ["q104_trend_gapfill", "q107_trailing_window", "q116_rank_distributions",
                "q128_ewma_smoothing", "q18_latest_event_per_key",
                "q19_incremental_slice", "q20_max_watermark", "q21_activity_profile",
                "q22_trends_daily", "q23_trends_weekly", "q24_trends_monthly",
                "q25_trends_hourly", "q26_sessionize", "q51_window_family"],
    "text": ["q122_quality_classifier", "q153_filter_funnel", "q160_threshold_sweep",
             "q161_token_fertility", "q169_curriculum_phases",
             "q180_boilerplate_prefixes", "q183_source_quality_matrix",
             "q191_langid_confusion", "q194_sentence_stats", "q27_string_normalize",
             "q28_clean_text", "q29_classify_category", "q30_size_extract",
             "q31_token_stats", "q32_lang_id", "q33_fingerprint", "q34_json_extract",
             "q35_multimodal_meta", "q55_bpe_tokens", "q56_rolling_hash",
             "q61_word_frequencies", "q81_pii_redact", "q82_repetition_ratio"],
    "dedup": ["q182_hash_collision_audit", "q36_dedup_exact", "q39_simhash",
              "q52_fuzzy_part_names"],
    "similarity": ["q102_embedding_gramian", "q154_kmeans_embed",
                   "q168_label_cosine_audit", "q185_hard_negatives",
                   "q189_embedding_norm_audit", "q222_effective_rank", "q40_ann_topk",
                   "q41_embedding_neardup", "q77_lsh_neardup"],
    "events": ["q117_json_props", "q142_top_paths", "q145_pseudonymize",
               "q146_rolling_distinct", "q225_funnel_latency", "q42_hourly_window",
               "q43_running_value", "q96_funnel_stages"],
    "parity": ["q44_threshold_stats", "q46_rfm_clv_merge", "q49_rollup_revenue",
               "q50_pivot_revenue", "q97_cube_revenue"],
    "asof": ["q106_nearest_event", "q47_asof_join", "q54_range_join"],
    "stats": ["q103_weighted_sample", "q108_robust_outliers", "q109_key_integrity",
              "q114_stratified_split", "q125_mixture_resample",
              "q130_equidepth_histogram", "q143_quantile_normalize",
              "q144_weighted_topk_sample", "q162_kanonymity",
              "q165_temperature_mixture", "q172_epoch_allocation", "q177_shard_balance",
              "q179_split_fairness", "q181_length_histogram", "q209_ldiversity",
              "q218_dp_release", "q220_shuffle_runs", "q228_chunked_runs",
              "q234_equidepth_approx_gate", "q249_quantile_normalize_distributed",
              "q57_deterministic_sample", "q58_price_histogram", "q59_moments",
              "q60_region_summary", "q62_date_functions", "q75_stratified_sample",
              "q99_table_checksum"],
    "jdbc": ["q73_jdbc_roundtrip"],
    "layout": ["q74_sorted_layout_roundtrip"],
    "skew": ["q101_two_phase_skew_agg", "q78_salted_skew_join"],
    "pack": ["q134_padding_waste", "q158_context_fit", "q164_doc_chunks",
             "q171_quant_error", "q79_sequence_packing", "q80_embedding_quantize"],
    "media": ["q121_video_frames", "q176_audio_meta", "q197_image_phash_dedup",
              "q198_audio_fp_dedup", "q229_mp4_frames", "q230_raw_video_decode",
              "q233_h264_pcm_frames", "q235_h264_cavlc_probes",
              "q236_h264_inter_probes", "q237_h264_cavlc_ref_inter",
              "q238_h264_deblock_probes", "q239_h264_cabac_probes",
              "q240_h264_multiref_probes", "q241_h264_bslice_probes",
              "q242_h264_weighted_probes", "q243_h264_partition_probes",
              "q244_h264_cabac_inter_probes", "q245_h264_subpartition_probes",
              "q246_h264_reflist_mod_probes", "q84_video_meta"],
    "merge": ["q133_pointintime_join", "q85_merge_upsert", "q86_scd2_history"],
    "corpusstats": ["q105_chi_square", "q111_inverted_index", "q113_token_entropy",
                    "q123_segment_dedup", "q124_bm25_topk", "q129_phrase_search",
                    "q155_oov_rate", "q157_pmi_pairs", "q159_source_datacard",
                    "q174_vocab_coverage", "q175_term_burstiness",
                    "q184_source_lang_entropy", "q204_zipf_slope",
                    "q206_source_js_divergence", "q213_ks_length_drift",
                    "q216_token_budget_select", "q87_tfidf_keywords",
                    "q88_bpe_pair_counts", "q89_dupspan_fraction", "q90_heavy_hitters",
                    "q91_unigram_logprob", "q95_kl_drift"],
    "graph": ["q92_pagerank"],
    "formats": ["q135_schema_evolution", "q93_jsonl_roundtrip"],
    "analytics": ["q110_cohort_retention", "q112_markov_transitions",
                  "q115_benford_audit", "q132_abc_classification", "q141_ab_readout",
                  "q147_autocorrelation", "q152_gini_concentration"],
    "reshape": ["q118_pivot_matrix"],
}

# Families the session leaves out, because `ingest` drives their entry points
# directly (the pipeline jobs behind `pipeline`, the `EventStreams` drains
# behind `streamparity`) and their first-run cost (3-8 s each) would push a
# session past its share of the time budget.
OTHER_WORKLOAD_FAMILIES = {"pipeline": "ingest", "streamparity": "ingest"}


def stratified_sample(seed):
    """One query per family, chosen by the seed among the family's eligible
    queries; every family the session drives is represented."""
    rng = random.Random(seed)
    return [rng.choice(pool) for pool in POOLS.values()]


def round_orders(sample, seed, n):
    rng = random.Random(seed * 7919 + 1)
    return [rng.sample(sample, len(sample)) for _ in range(n)]


def jvm_cmd(args, heap="512m", props=()):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory, so
    # nothing is written outside the checkout
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
    cmd += [f"-D{k}={v}" for k, v in props]
    return cmd + ["-cp", build.classpath(), "graft.perfbench.Harness"] + list(args)


def proc_stat():
    """(steal, iowait) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], v[4]


def spin_ms():
    """Fixed-work single-thread spin: host speed at this moment."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1000


def dir_stats(path):
    b = f = 0
    for dp, _, files in os.walk(path):
        for n in files:
            b += os.path.getsize(os.path.join(dp, n))
            f += 1
    return b, f


def oracle_failures(inputs, dump, oracle, names):
    """Compare each dumped query result with its oracle SQL run in DuckDB,
    canonicalized as `tools/check_oracle.py` does."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    con = duckdb.connect()
    con.execute(f"SET threads={CORES}")
    con.execute("SET enable_progress_bar=false")
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    failed = []
    for name in names:
        try:
            want = con.execute(oracle[name]).df()
            have = con.execute(f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')").df()
            issues = check_oracle.compare(name, want, have)
        except Exception as e:  # a query or oracle error is a failed check
            issues = [str(e)[:200]]
        if issues:
            failed.append(f"{name}: {issues[0]}")
    return failed


# ---------------------------------------------------------------- metrics ---

def per_op_spans(res):
    """Spans grouped by operation key: {key: [(id, parent, layer, start, end)]}."""
    by = {}
    for sid, parent, layer, _name, key, s, e in res["spans"]:
        by.setdefault(key, []).append((sid, parent, layer, s, e))
    return by


def latencies(res, workload):
    """Per-operation latencies (s) after the first pass: queries, or
    micro-batches of the drains."""
    warm = [o for o in res["ops"] if o["pass"] == "warm" and o["ok"]]
    if workload == "ingest":
        return [b / 1000 for o in warm if o["kind"] == "drain" for b in o["batch_ms"]]
    return [o["ms"] / 1000 for o in warm]


def steady_samples(res, workload):
    """The steady-state unit of work after the first pass: a whole round over
    the sample (one dashboard refresh) for `query_session`, else as
    `latencies`."""
    if workload != "query_session":
        return latencies(res, workload)
    rounds = {}
    for o in res["ops"]:
        if o["pass"] == "warm":
            rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["ms"] / 1000
    return list(rounds.values())


def end_to_end(res, workload, t_launch):
    first = [o for o in res["ops"] if o["pass"] == "first"]
    steady = steady_samples(res, workload)
    return {
        "setup_s": (res["first_op_ms"] / 1000 - t_launch, "s"),
        "first_pass_s": (sum(o["ms"] for o in first) / 1000, "s"),
        "steady_p50_s": (stats.median(steady) if steady else float("nan"), "s"),
    }


PASS_LAYER = ["queries.build_ms", "queries.build_jobs", "sql.analysis_ms",
              "sql.optimization_ms", "sql.planning_ms", "codegen.compiles",
              "codegen.compile_ms", "exec.ms", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.scan_bytes",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.off_stage_ms", "exec.core_busy_frac"]
# the operation wrapper's own span is left out: its self time is the
# recorder's bookkeeping, well under a millisecond
SPAN_LAYERS = ["build", "execute", "job", "stage"]
PIPE_STAGES = ["ingest", "transform", "quality", "metrics"]
PIPE_FIELDS = ["ms", "jobs", "task_cpu_ms", "shuffle_write_bytes", "output_bytes",
               "output_files"]
DRAINS = ("hourly", "sessionize", "upsert")
# batches, rows out and state rows are fixed by the input and the trigger;
# the run record keeps them
DRAIN_FIELDS = ["drain_ms", "state_bytes", "task_cpu_ms"]


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last == "ms" or last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("bytes") or last.endswith("_peak"):
        return "bytes"
    if last.endswith("_frac") or last == "write_amp":
        return "ratio"
    return "count"


def per_layer_names():
    """The traced run's metrics; every workload reports the same set."""
    names = [f"{p}.{m}" for p in ("first", "warm") for m in PASS_LAYER]
    names += [f"{p}.self.{l}_ms" for p in ("first", "warm") for l in SPAN_LAYERS]
    # the pipeline runs in the first pass only
    names += ["first.self.pipeline_ms"]
    names += ["core.store_bytes", "core.store_files", "core.memo_release_ms",
              "core.cached_bytes_peak", "heap_live_peak_mb"]
    # the ingest stage reads CSV and writes parquet without a shuffle
    names += [f"pipeline.{s}.{f}" for s in PIPE_STAGES for f in PIPE_FIELDS
              if (s, f) != ("ingest", "shuffle_write_bytes")]
    names += ["pipeline.archive.ms", "pipeline.write_amp"]
    names += [f"streaming.{d}.{f}" for d in DRAINS for f in DRAIN_FIELDS]
    names += ["traced.first_pass_s", "traced.steady_p50_s"]
    return names


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(res, workload, store):
    """Per-layer metrics of a traced run; layers a workload never calls
    read 0."""
    declared = per_layer_names()
    out = dict.fromkeys(declared, 0.0)
    counters = res["counters"]
    spans = per_op_spans(res)
    for p in ("first", "warm"):
        ops = [o for o in res["ops"] if o["pass"] == p and o["ok"]]
        if not ops:
            continue
        acc = {m: [] for m in PASS_LAYER}
        selfs = {l: [] for l in SPAN_LAYERS + ["pipeline"]}
        for o in ops:
            c = counters.get(o["key"], {})
            sp = spans.get(o["key"], [])
            layer_of = {sid: layer for sid, _, layer, _, _ in sp}
            self_t = stats.self_times([(sid, par, s, e) for sid, par, _, s, e in sp])
            for l in selfs:
                selfs[l].append(sum(v for sid, v in self_t.items() if layer_of[sid] == l))
            dur = lambda layer: sum(e - s for _, _, l, s, e in sp if l == layer)  # noqa: E731
            ex = [(sid, s, e) for sid, _, l, s, e in sp if l == "execute"]
            flat = [(sid, par, s, e) for sid, par, _, s, e in sp]
            off = sum((e - s) - stats.covered(flat, sid, layer_of, "stage", s, e)
                      for sid, s, e in ex)
            for m in PASS_LAYER:
                acc[m].append(c.get(m, 0.0))
            acc["queries.build_ms"][-1] = dur("build")
            acc["exec.ms"][-1] = dur("execute")
            acc["exec.off_stage_ms"][-1] = off
            acc["exec.core_busy_frac"][-1] = (c.get("exec.task_run_ms", 0.0) /
                                              (dur("execute") * CORES) if dur("execute") else 0.0)
        for m in PASS_LAYER:
            out[f"{p}.{m}"] = mean(acc[m])
        for l in SPAN_LAYERS:
            out[f"{p}.self.{l}_ms"] = mean(selfs[l])
        if p == "first":
            out["first.self.pipeline_ms"] = mean(selfs["pipeline"])
    out["core.store_bytes"], out["core.store_files"] = store
    out["core.memo_release_ms"] = res.get("memo_release_ms", 0.0)
    out["core.cached_bytes_peak"] = res["cached_bytes_peak"]
    out["heap_live_peak_mb"] = res["heap_live_peak_bytes"] / 2**20

    def steady(kind, name=None):
        ops = [o for o in res["ops"] if o["kind"] == kind and o["ok"]
               and (name is None or o["name"] == name)]
        warm = [o for o in ops if o["pass"] == "warm"]
        return warm or ops

    runs = steady("pipeline")
    if runs:
        for st in PIPE_STAGES:
            c = [counters.get(f"{o['key']}/{st}", {}) for o in runs]
            out[f"pipeline.{st}.ms"] = mean([o["stage_ms"].get(st, 0.0) for o in runs])
            out[f"pipeline.{st}.jobs"] = mean([x.get("exec.jobs", 0.0) for x in c])
            out[f"pipeline.{st}.task_cpu_ms"] = mean([x.get("exec.task_cpu_ms", 0.0) for x in c])
            out[f"pipeline.{st}.shuffle_write_bytes"] = mean(
                [x.get("exec.shuffle_write_bytes", 0.0) for x in c])
            out[f"pipeline.{st}.output_bytes"] = mean(
                [o["outputs"][st]["output_bytes"] for o in runs])
            out[f"pipeline.{st}.output_files"] = mean(
                [o["outputs"][st]["output_files"] for o in runs])
        out["pipeline.archive.ms"] = mean([o["stage_ms"].get("archive", 0.0) for o in runs])
        out["pipeline.write_amp"] = (sum(out[f"pipeline.{s}.output_bytes"] for s in PIPE_STAGES)
                                     / res["csv_bytes"])
    for d in DRAINS:
        runs = steady("drain", d)
        if runs:
            out[f"streaming.{d}.drain_ms"] = mean([o["ms"] for o in runs])
            out[f"streaming.{d}.state_bytes"] = mean([o["state_bytes"] for o in runs])
            out[f"streaming.{d}.task_cpu_ms"] = mean(
                [counters.get(o["key"], {}).get("exec.task_cpu_ms", 0.0) for o in runs])
    return {k: out[k] for k in declared}


# -------------------------------------------------------------------- run ---

def prepare_inputs(workload, seed, inputs):
    cfg = WORKLOADS[workload]
    if workload == "query_session":
        gen.tables(os.path.join(inputs, "tables"), seed, cfg["sf"])
    else:
        gen.landing_csvs(os.path.join(inputs, "landing"), seed, cfg["sf"])
        gen.event_parts(os.path.join(inputs, "stream"), seed, cfg["rows"], cfg["files"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    build.build()
    weather0 = (proc_stat(), spin_ms())
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("inputs", "tmp", "store", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    inputs = os.path.join(run_dir, "inputs")
    prepare_inputs(a.workload, a.seed, inputs)
    tables = os.path.join(inputs, "tables")
    plan = {"workload": a.workload, "cores": CORES, "trace": bool(a.trace),
            "seconds": a.seconds, "min_rounds": cfg["min_rounds"], "inputs": tables,
            "work": run_dir, "dump": os.path.join(run_dir, "dump")}
    if a.workload == "query_session":
        plan["rounds"] = round_orders(stratified_sample(a.seed), a.seed, cfg["rounds"])
    if a.workload == "ingest":
        plan["landing"] = os.path.join(inputs, "landing")
        plan["stream_inputs"] = os.path.join(inputs, "stream")
        plan["max_files_per_trigger"] = cfg["max_files_per_trigger"]
    plan_path, res_path = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "result.json")
    json.dump(plan, open(plan_path, "w"))
    props = [("java.io.tmpdir", os.path.join(run_dir, "tmp")),
             ("graft.cache.dir", os.path.join(run_dir, "store")),
             ("derby.system.home", os.path.join(run_dir, "derby"))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        # local mode binds to loopback whatever the host name resolves to
        env = {"SPARK_LOCAL_IP": "127.0.0.1", **os.environ}
        # set-up time runs from here: the inputs are the benchmark's own
        # work, which no engine change can move
        t_launch = time.time()
        proc = subprocess.Popen(jvm_cmd([plan_path, res_path], HEAP, props), cwd=ROOT,
                                env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness JVM timed out")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    res = json.load(open(res_path))
    weather1 = (proc_stat(), spin_ms())

    # checks, outside the timed window
    failed_ops = [f"{o['key']}: {o['err']}" for o in res["ops"] if not o["ok"]]
    if a.workload == "query_session":
        failed_checks = [f"{n}: dump failed: {e}" for n, e in res["dump_errors"].items()]
        failed_checks += oracle_failures(tables, plan["dump"], res["oracle"],
                                         [n for n in plan["rounds"][0]
                                          if n not in res["dump_errors"]])
    else:
        failed_checks = res["failures"]
    attempted = len(res["ops"])
    failed = min(attempted, len(failed_ops) + len(failed_checks))

    store = dir_stats(os.path.join(run_dir, "store"))
    metrics_e2e = end_to_end(res, a.workload, t_launch)
    if a.trace:
        layer = layer_metrics(res, a.workload, store)
        layer["traced.first_pass_s"] = metrics_e2e["first_pass_s"][0]
        layer["traced.steady_p50_s"] = metrics_e2e["steady_p50_s"][0]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics_e2e.items()}

    lat = latencies(res, a.workload)
    drains = [o for o in res["ops"] if o["kind"] == "drain"]
    p_hi = stats.supported_percentile(len(lat))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": CORES, "heap": HEAP, "metrics": metrics,
        "latency": {"n": len(lat), "p50_s": stats.median(lat) if lat else None,
                    "p_high": p_hi,
                    "p_high_s": stats.nearest_rank(lat, p_hi) if p_hi else None},
        "weather": {"steal_jiffies": weather1[0][0] - weather0[0][0],
                    "iowait_jiffies": weather1[0][1] - weather0[0][1],
                    "spin_ms_start": weather0[1], "spin_ms_end": weather1[1]},
        "setup_s": metrics_e2e["setup_s"][0], "checks_in_jvm_s": res["checks_ms"] / 1000,
        "failed_ops": failed_ops, "failed_checks": failed_checks,
        "ops": [{k: o[k] for k in ("key", "pass", "ms", "ok")} for o in res["ops"]],
        "drains": [{k: o[k] for k in ("key", "rows_out", "state_rows", "batch_ms")}
                   for o in drains],
        "steady_samples_s": steady_samples(res, a.workload),
        # input rows over summed drain seconds, all passes (ingest)
        "rows_per_s": (sum(o.get("rows_in", 0) for o in drains) /
                       (sum(o["ms"] for o in drains) / 1000)) if drains else None,
        "sample": plan["rounds"][0] if a.workload == "query_session" else None,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        with open(rec_path.replace(".json", "-spans.json"), "w") as f:
            json.dump({"spans": res["spans"], "counters": res["counters"]}, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    for msg in failed_ops + failed_checks:
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)
    w = record["weather"]
    print(f"[perfbench] {a.workload} seed={a.seed} latency n={len(lat)} "
          f"p50={record['latency']['p50_s']} p{p_hi}={record['latency']['p_high_s']} steal={w['steal_jiffies']} "
          f"iowait={w['iowait_jiffies']} spin={w['spin_ms_start']:.1f}/{w['spin_ms_end']:.1f} ms",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
