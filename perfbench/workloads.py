"""The workloads, their pinned inputs, and the metrics made from a
run's raw record (see perfbench/README.md for what each one means).

The metric names and units are read from BENCHMARK.json, the one list
of them. A figure a run produces that BENCHMARK.json does not name is
printed as unlisted, not dropped.
"""
import json
import math
import os
import statistics

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _CONTRACT = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _CONTRACT["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _CONTRACT["per_layer"]}

CURATION_QUERIES = [
    "dedup_lsh_recall", "sim_ivfpq_topk", "t_bpe_encode", "streaming_dedup"]

WORKLOADS = {
    "speech_e2e": {"kind": "speech", "increments": 2, "file-seconds": 12, "corrupt": 3},
    "curation_cold": {"kind": "registry", "queries": CURATION_QUERIES, "scale": "sf0.01",
                      "tables": corpus.tables("sf0.01"), "warm_scale": "sf0.001",
                      "gen_reps": 3},
}

# The end-to-end metrics of the JSON line are in yardstick-scaled seconds:
# raw seconds × YARDSTICK_REF_S / this run's median yardstick time
# (graftbench.Calibrate, sampled in a JVM of its own before and after
# every pass). The raw seconds are printed.
YARDSTICK_REF_S = 0.25

# end-to-end metrics printed but not in the JSON line (see README.md)
EXTRA_UNITS = {"storage_mb_peak": "MB", "audio_s_per_s": "audio-s/s", "query_p90_s": "s"}

STAGED = "queries.staged_build_s."
STAGED_TAGS = [k[len(STAGED):] for k in PER_LAYER if k.startswith(STAGED)]


def staged_tag(dirname, tags=STAGED_TAGS):
    """The staging tag of a staged write's temp dir. `QuerySupport` names
    it `graft_rel_<tag>` or `graft_stream_<tag>` plus a random number, so
    a listed tag matches when only digits follow it (the longest wins);
    any stream source counts as `stream_sources`. An unknown tag comes
    back with its trailing digits cut, to be reported as unlisted."""
    if dirname.startswith("graft_stream_"):
        return "stream_sources"
    rest = dirname[len("graft_rel_"):]
    hits = [t for t in tags if rest.startswith(t) and rest[len(t):].isdigit()]
    return max(hits, key=len) if hits else rest.rstrip("0123456789")


def percentile(values, q, min_beyond=10):
    """The q-th percentile (0 < q < 100, nearest rank) of `values`, or None
    unless at least `min_beyond` samples lie strictly beyond it."""
    if not values:
        return None
    xs = sorted(values)
    v = xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]
    return v if sum(1 for x in xs if x > v) >= min_beyond else None


def account(ops, bad_checks):
    """Split operations into successes and failures. A failure — thrown,
    timed out, or a failed output check — keeps its reason and adds no
    time to any total."""
    good, failed = [], []
    for op in ops:
        why = op["error"] or bad_checks.get((op["pass"], op["name"]), "")
        (failed if why else good).append(dict(op, why=why))
    return good, failed


def _passes(ops):
    return sorted({o["pass"] for o in ops})


def end_to_end(raw, wl, good, setup_s):
    """Metric name → value over the successful operations."""
    passes = _passes(raw["ops"])
    total = lambda o: o["build_s"] + o["plan_s"] + o["exec_s"]
    per_pass = lambda f: [sum(f(o) for o in good if o["pass"] == p) for p in passes]
    times = [total(o) for o in good]
    # each operation's median over passes, then the median over operations
    by_op = {}
    for o in good:
        by_op.setdefault(o["name"], []).append(total(o))
    m = {"wall_s": statistics.median(per_pass(total)),
         "setup_s": setup_s,
         "query_p50_s": statistics.median(statistics.median(v) for v in by_op.values())
                        if by_op else 0.0,
         "cpu_s": statistics.median(per_pass(lambda o: o["work"].get("task_cpu_s", 0.0)))}
    extra = {"storage_mb_peak": max((o["storage_mb"] for o in raw["ops"]), default=0.0)}
    if wl["kind"] == "speech":
        audio = per_pass(lambda o: o["extra"].get("audio_s", 0.0))
        extra["audio_s_per_s"] = statistics.median(
            a / w for a, w in zip(audio, per_pass(total)) if w > 0)
    p90 = percentile(times, 90)
    if p90 is not None:
        extra["query_p90_s"] = p90
    return m, extra


def per_layer(raw, wl, good, trace_wall_s, storage_peak):
    """Every per-layer figure the run produced, by metric name."""
    n_pass = max(1, len(_passes(raw["ops"])))
    m = {}
    for k, v in raw["layer"].items():
        m[k] = v / n_pass if k.startswith(("pipeline.rows_out.", "pipeline.inference_")) else v
    for span, v in raw["self_s"].items():
        m[f"{span}_s"] = v / n_pass
    if "manifest_bytes" in raw["notes"]:
        m["sources.manifest_bytes"] = float(raw["notes"]["manifest_bytes"])
    for d, v in raw["staged_s"].items():
        key = STAGED + staged_tag(d)
        m[key] = m.get(key, 0.0) + v / n_pass
    tables = [t for t in raw["scan_s"] if t in wl.get("tables", ())]  # not staged or streamed files
    for t in tables:
        m[f"tables.scan_s.{t}"] = raw["scan_s"][t] / n_pass
    scan_s = sum(raw["scan_s"][t] for t in tables)
    if scan_s > 0:
        m["tables.rows_per_s"] = sum(raw["scan_rows"][t] for t in tables) / scan_s
    rows, outs = {}, {}
    for group, v in raw["join_rows"].items():
        q = group.rsplit("#", 1)[0]
        rows[q] = rows.get(q, 0.0) + v
        outs[q] = outs.get(q, 0.0) + raw["result_rows"].get(group, 0.0)
    for q in rows:
        m[f"ops.rows_examined_per_row_out.{q}"] = rows[q] / max(1.0, outs[q])
    for group, st in raw["streams"].items():
        q = group.rsplit("#", 1)[0]
        for k, v in st.items():
            key = f"streaming.{k}.{q}"
            m[key] = max(m.get(key, 0.0), v) if k == "state_rows" else m.get(key, 0.0) + v / n_pass
    for k in sorted({k for o in good for k in o["work"]}):
        vals = [o["work"].get(k, 0.0) for o in good]
        m[f"spark.{k}"] = max(vals) if k == "peak_exec_mb" else sum(vals) / len(vals)
    m["spark.storage_mb_peak"] = storage_peak
    m["trace.wall_s"] = trace_wall_s
    return m


def summarize(raw, wl, trace, setup_s, bad_checks):
    good, failed = account(raw["ops"], bad_checks)
    checks = raw["checks"]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(raw["ops"]) + len(checks)
    n_failed = len(failed) + len(failed_checks)
    e2e, extra = end_to_end(raw, wl, good, setup_s)
    cal_s = raw["cal_s"]
    yardstick = statistics.median(cal_s)
    scale = YARDSTICK_REF_S / yardstick
    human = [f"yardstick = {yardstick:.4f} s (median of {len(cal_s)}: "
             + " ".join(f"{c:.4f}" for c in cal_s) + f"); scale to reference = {scale:.4f}"]
    for k, v in e2e.items():
        human.append(f"{k} = {v * scale:.6g} {END_TO_END[k]} (raw {v:.6g} {END_TO_END[k]})")
    for k, v in extra.items():
        human.append(f"{k} = {v:.6g} {EXTRA_UNITS[k]}")
    human.append(f"failed_frac = {n_failed / attempted:.6g} ({n_failed} of {attempted} "
                 f"operations and checks; {len(raw['ops'])} operations over "
                 f"{len(_passes(raw['ops']))} passes)")
    human.append(f"query samples = {len(good)} over "
                 f"{len({o['name'] for o in good})} operations")
    for o in good:
        human.append(f"op {o['name']} (pass {o['pass']}): build {o['build_s']:.3f} s, plan "
                     f"{o['plan_s']:.3f} s, exec {o['exec_s']:.3f} s, task cpu "
                     f"{o['work'].get('task_cpu_s', 0.0):.3f} s (raw)")
    for f in failed:
        human.append(f"FAILED op {f['name']} (pass {f['pass']}): {f['why'][:400]}")
    for c in checks:
        human.append(f"{'ok    ' if c['ok'] else 'FAILED'} check {c['name']}: {c['detail'][:400]}")
    if trace:
        # scaled like the untraced wall_s, so the two compare directly
        found = per_layer(raw, wl, good, e2e["wall_s"] * scale, extra["storage_mb_peak"])
        human.append(f"trace.wall_s = {e2e['wall_s'] * scale:.6g} s (raw {e2e['wall_s']:.6g} s)")
        gsum, sess = raw["group_work_sum"], raw["session_work"]
        human.append("listener totals: groups " + json.dumps(gsum) + " session " + json.dumps(sess))
        for k in sorted(set(found) - set(PER_LAYER)):
            human.append(f"unlisted per-layer metric (not in BENCHMARK.json): {k} = {found[k]:.6g}")
        out = {k: {"value": found.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k] * scale, "unit": u} for k, u in END_TO_END.items()}
    final = {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
             "metrics": out}
    return {"human": human, "final": final}
