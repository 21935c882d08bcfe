"""Pure functions of the benchmark: statistics, span arithmetic, the
simulated chain's closed forms, the output gates, metric derivation from
the JVM's raw observations, and validation of BENCHMARK.json.

Everything here is deterministic and has no I/O, so `tests/` can pin it.
"""

import math
import re
import statistics

# ---------------------------------------------------------------- statistics


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile that has at least ten samples
    beyond it among n samples, or None when even the median has fewer."""
    for q in candidates:
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def iqr_spread(values):
    """Distance between the first and third quartile as a share of the
    median, the way the acceptance check computes run-to-run spread."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ---------------------------------------------------------------- spans


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    its children cover. A job span that ran for a streaming micro-batch
    is a child of that batch's epoch span; an epoch span is a child of
    the CLI span that started the stream."""
    epochs = {s["batch"]: s for s in spans if s["kind"] == "epoch"}
    cli = [s for s in spans if s["kind"] == "cli"]

    def parent_of(s):
        if s["kind"] == "job" and s.get("batch", -1) >= 0 and s["batch"] in epochs:
            return epochs[s["batch"]]["id"]
        if s["kind"] == "epoch" and cli:
            return cli[0]["id"]
        return s["parent"]

    children = {}
    for s in spans:
        children.setdefault(parent_of(s), []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


# ---------------------------------------------------------------- simulated chain

# These mirror graft.sources.SimChain / SimulatedReceiptFetcher /
# SimulatedCallExecutor: block n carries n % 3 transactions; tx i of block
# n has no recipient (a contract creation of the block's collection
# 4000 + n % 5) when (n + i) % 7 == 0; every 5th block's transfers are
# mints (all into collection 4000, an enumerable ERC-721); block n % 7 == 3
# adds one ERC-1155 URI event on its first transaction; collection 4004
# answers no ERC-165 probe, so it never becomes a collections row.


def sim_window(start, n):
    """Closed-form sizes of a crawl of [start, start + n)."""
    blocks = range(start, start + n)
    total_tx = sum(b % 3 for b in blocks)
    created = {4000 + b % 5 for b in blocks for i in range(b % 3) if (b + i) % 7 == 0}
    mint_tokens = sum(b % 3 for b in blocks if b % 5 == 0)
    minted_before = sum(b % 3 for b in range(0, start, 5))
    uri_events = sum(1 for b in blocks if b % 7 == 3 and b % 3 > 0)
    return {
        "total_tx": total_tx,
        "created": len(created),
        "mint_tokens": mint_tokens,
        # full block + hash-list block + one receipt per tx + six
        # interface probes per created contract + one tokenURI probe per
        # minted token (CrawlThroughputSpec's exact wire formula)
        "wire_entries": 2 * n + total_tx + 6 * len(created) + mint_tokens,
        "tables": {
            "transfers": total_tx,
            "tokens": total_tx,
            # the recipient's +1 on every transfer, the sender's -1 on
            # every non-mint one
            "owners": 2 * total_tx - mint_tokens,
            "collections": len(created - {4004}),
            "uris": uri_events + mint_tokens,
        },
        # the chain's own enumeration of collection 4000 lists every token
        # minted since genesis; the ones before the window are not in a
        # window's DB and show as errors, beside one standing warning
        "enumeration": (minted_before, 1),
    }


# verify over the simulated chain is never clean by design (fixture
# supplies and ERC-1155 shapes disagree): the per-section (errors,
# warnings) row counts below are pinned per window size, for window
# starts that are multiples of 105. transfers and owners must stay empty.
VERIFY_SECTIONS = {
    1000: {"counts": (5, 0), "token_shape": (399, 0)},
}


# ---------------------------------------------------------------- gates


def crawl_gate(it):
    """Failures of a crawl_rpc run, as (command, reason) pairs."""
    bad = []
    want = sim_window(it["start"], it["blocks"])
    if it["crawl_code"] != 0:
        bad.append(("crawl", "exit code %d" % it["crawl_code"]))
    for t, n in want["tables"].items():
        if it["tables"].get(t) != n:
            bad.append(("crawl", "%s rows %s != %d" % (t, it["tables"].get(t), n)))
    if it["crawl_wire"]["wire_entries"] != want["wire_entries"]:
        bad.append(("crawl", "wire entries %d != %d" % (
            it["crawl_wire"]["wire_entries"], want["wire_entries"])))
    sections = {k: (v["n"] - v["warnings"], v["warnings"]) for k, v in it["sections"].items()}
    for s in ("transfers", "owners"):
        if s in sections:
            bad.append(("verify", "%s section not empty: %s" % (s, sections[s])))
    pinned = dict(VERIFY_SECTIONS.get(it["blocks"], {}), enumeration=want["enumeration"])
    other = {k: v for k, v in sections.items() if k not in ("transfers", "owners")}
    if other != pinned:
        bad.append(("verify", "sections %s != pinned %s" % (other, pinned)))
    if it["verify_code"] != (1 if any(e for e, _ in pinned.values()) else 0):
        bad.append(("verify", "exit code %d" % it["verify_code"]))
    return bad


ROWS_ONLY = {"p8_uint256_math", "p9_keccak", "sample_weighted", "text_compress_ratio",
             "x1_approx_sketch"}


def query_gate(r, expected):
    """Reason a query result fails its check, or None."""
    if r["error"]:
        return r["error"]
    want = expected.get(r["name"])
    if want is None:
        return "no expected value"
    if r["rows"] != want["rows"]:
        return "rows %d != %d" % (r["rows"], want["rows"])
    if r["name"] not in ROWS_ONLY and r["digest"] != want["digest"]:
        return "digest %s != %s" % (r["digest"], want["digest"])
    return None


# ---------------------------------------------------------------- metrics


def family(name):
    """Registry family of a query name: the letter prefix before its
    number (q3_join_agg -> q), else the text before the first '_'."""
    m = re.match(r"([a-z]+?)\d+_", name)
    return m.group(1) if m else name.split("_")[0]


def lags(raw):
    """Per-block lag of the open-loop phase after its ramp: commit of the
    first epoch holding the block minus the block's due time at the
    generator."""
    epochs = sorted(raw["epochs"], key=lambda e: e["commit_ms"])
    out = []
    for block, due, _ in raw["wire"]["schedule"][raw["ramp_blocks"]:]:
        commit = next((e["commit_ms"] for e in epochs if e["to"] > block), None)
        if commit is not None:
            out.append(commit - due)
    return out


def evaluate(workload, raw, expected=None):
    """(failures, end-to-end metrics, per-layer metrics) of one run."""
    ops = raw["ops"]
    # (index into ops, reason)
    failures = [(i, "%s failed" % o["name"]) for i, o in enumerate(ops) if not o["ok"]]
    e2e = {"setup_s": raw["setup_s"]}
    layer = {"heap_peak_mb": raw["heap_peak_mb"]}
    wire = {}
    if workload == "crawl_rpc":
        # ops are [crawl, verify]
        failures += [(int(cmd == "verify"), why) for cmd, why in crawl_gate(raw)]
        blocks = raw["blocks"]
        e2e["throughput_per_s"] = blocks / (raw["crawl_ms"] / 1e3)
        e2e["latency_ms"] = raw["crawl_ms"] + raw["verify_ms"]
        layer["crawl.blocks_per_s"] = e2e["throughput_per_s"]
        layer["verify.blocks_per_s"] = blocks / (raw["verify_ms"] / 1e3)
        for k in ("http_requests", "wire_entries", "errors", "busy_ms", "cpu_ms"):
            wire[k] = raw["crawl_wire"][k] + raw["verify_wire"][k]
        wire["max_inflight"] = max(raw[w]["max_inflight"] for w in ("crawl_wire", "verify_wire"))
        lay = raw.get("layers") or {}
        if lay:
            layer["sources.fetch_blocks_per_s"] = blocks / (lay["fetch_ms"] / 1e3)
            layer["nft.derive_s"] = lay["derive_ms"] / 1e3
        layer["pipelines.crawl.stage_s"] = sum(
            w["s"] for w in raw["writes"] if re.search(r"/db/\.stage/", w["path"]))
        layer["pipelines.crawl.tables_s"] = sum(
            w["s"] for w in raw["writes"] if re.search(r"/db/[a-z]+$", w["path"]))
    elif workload == "tail_rpc":
        for name, ok in (("transfers", raw["transfers_ok"]), ("owners", raw["owners_ok"])):
            if not ok:
                failures.append((len(ops) - 1, "%s state differs from the batch derivation" % name))
        lag = lags(raw)
        if len(lag) < raw["live_blocks"]:
            failures.append((len(ops) - 1, "%d of %d live blocks committed" % (
                len(lag), raw["live_blocks"])))
            lag = lag or [0.0]
        e2e["throughput_per_s"] = raw["backlog"] / (raw["catchup_ms"] / 1e3)
        e2e["latency_ms"] = median(lag)
        layer["tail.catchup_blocks_per_s"] = e2e["throughput_per_s"]
        layer["tail.lag_p50_ms"] = median(lag)
        layer["tail.lag_tail_ms"] = percentile(lag, tail_percentile(len(lag)) or 50)
        w = raw["wire"]
        wire = {k: w[k] for k in ("http_requests", "wire_entries", "errors", "busy_ms", "cpu_ms",
                                  "max_inflight")}
        epochs = raw["epochs"]
        d = lambda key: [e["durations"].get(key, 0) for e in epochs] or [0]
        blocks = raw["backlog"] + raw["ramp_blocks"] + raw["live_blocks"]
        sim = sim_window(raw["start"], blocks)
        layer["rpc.useful_ratio"] = (blocks + sim["total_tx"]) / w["wire_entries"]
        n_epochs = max(1, len(epochs))
        layer["rpc.requests_per_epoch"] = w["http_requests"] / n_epochs
        layer["streaming.epochs"] = len(epochs)
        layer["streaming.blocks_per_epoch"] = blocks / n_epochs
        jobs = raw.get("jobs_per_batch") or []
        layer["streaming.jobs_per_epoch"] = sum(jobs) / len(jobs) if jobs else 0.0
        layer["streaming.trigger_ms_p50"] = median(d("triggerExecution"))
        layer["streaming.trigger_ms_p90"] = percentile(d("triggerExecution"), 90)
        layer["streaming.latest_offset_ms_p50"] = median(d("latestOffset"))
        layer["streaming.query_planning_ms_p50"] = median(d("queryPlanning"))
        layer["streaming.add_batch_ms_p50"] = median(d("addBatch"))
        layer["streaming.commit_ms_p50"] = median(
            [e["durations"].get("walCommit", 0) + e["durations"].get("commitOffsets", 0)
             for e in epochs] or [0])
        late = [at - due for _, due, at in w["schedule"]] or [0]
        layer["streaming.generator_late_ms_p90"] = percentile(late, 90)
        sink = [x for x in raw["writes"] if re.search(r"/tail/(transfers|owners)$", x["path"])]
        layer["ops.buckets_rewritten_per_epoch"] = sum(x["parts"] for x in sink) / n_epochs
    elif workload == "queries":
        expected = expected or {}
        for i, r in enumerate(raw["results"]):
            why = query_gate(r, expected)
            if why:
                failures.append((i, "%s: %s" % (r["name"], why)))
        ms_of = {r["name"]: r["ms"] for r in raw["results"]}
        e2e["throughput_per_s"] = len(ms_of) / raw["pass_s"]
        layer["queries.total_s"] = sum(ms_of.values()) / 1e3
        layer["queries.geomean_ms"] = geomean(list(ms_of.values()))
        e2e["latency_ms"] = layer["queries.geomean_ms"]
        for name, ms in ms_of.items():
            key = "queries.%s.total_s" % family(name)
            layer[key] = layer.get(key, 0.0) + ms / 1e3
        lay = raw.get("layers") or {}
        if lay:
            layer["tables.fixtures_prepare_s"] = lay["fixtures_prepare_ms"] / 1e3
            layer["tables.fixture_bytes"] = lay["fixture_bytes"]
    if wire:
        layer["rpc.http_requests"] = wire["http_requests"]
        layer["rpc.wire_entries"] = wire["wire_entries"]
        layer["rpc.entries_per_request"] = wire["wire_entries"] / max(1, wire["http_requests"])
        layer["rpc.max_inflight"] = wire["max_inflight"]
        layer["rpc.errors"] = wire["errors"]
        layer["rpc.server_busy_ms"] = wire["busy_ms"]
        layer["rpc.server_cpu_ms"] = wire["cpu_ms"]
    writes = raw["writes"]
    layer["ops.sink_bytes_written"] = sum(w["bytes"] for w in writes)
    layer["ops.sink_files_written"] = sum(w["files"] for w in writes)
    layer["ops.sink_records_written"] = sum(w["rows"] for w in writes)
    counters = raw["trace"]["counters"]
    for k in SPARK_COUNTERS:
        layer[k] = counters.get(k, 0.0)
    spans = raw["trace"]["spans"]
    selfs = self_times(spans)
    for kind in ("cli", "query", "epoch"):
        layer["trace.%s_self_ms" % kind] = sum(selfs[s["id"]] for s in spans if s["kind"] == kind)
    layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
    layer["trace.latency_ms"] = e2e["latency_ms"]
    layer["failed_frac"] = len({i for i, _ in failures}) / len(ops)
    return failures, e2e, layer


SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.planning_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.task_wait_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes", "spark.failed_tasks",
)


def result_line(bench, workload, raw, trace, expected=None):
    """The benchmark's final JSON object for one run."""
    failures, e2e, layer = evaluate(workload, raw, expected)
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    source = layer if trace else e2e
    metrics = {}
    for m in wanted:
        v = source.get(m["name"], 0.0)
        if not math.isfinite(v):
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": not failures, "attempted": len(raw["ops"]),
            "failed": len({i for i, _ in failures}), "metrics": metrics}, failures


# ---------------------------------------------------------------- BENCHMARK.json

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
_PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def validate_benchmark(b):
    """Contract violations of a parsed BENCHMARK.json (empty = valid)."""
    errs = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(b) != keys:
        return ["top-level keys %s != %s" % (sorted(b), sorted(keys))]
    paths = b["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        errs.append("paths: 1 to 16 entries")
    for p in paths if isinstance(paths, list) else []:
        if not (isinstance(p, str) and _PATH.match(p)) or p.startswith("/") or \
                ".." in p.split("/"):
            errs.append("bad path %r" % (p,))
    cmd = b["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32 and
            all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command: 1 to 32 strings of at most 200 characters")
    else:
        for c in cmd:
            if c.startswith("/") or ".." in c.split("/"):
                errs.append("command names a path outside the repo: %r" % c)
    rs = b["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        errs.append("run_seconds: whole number 1..60")
    seen = set()

    def name_ok(n):
        if not (isinstance(n, str) and _NAME.match(n)):
            errs.append("bad name %r" % (n,))
        elif n in seen:
            errs.append("name used twice: %r" % n)
        seen.add(n)

    wl = b["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        errs.append("workloads: 2 to 8")
    for w in wl if isinstance(wl, list) else []:
        if set(w) != {"name", "why"}:
            errs.append("workload keys %s" % sorted(w))
            continue
        name_ok(w["name"])
        if not (isinstance(w["why"], str) and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]):
            errs.append("bad why for %r" % w["name"])
    e2e = b["end_to_end"]
    if not (isinstance(e2e, list) and 1 <= len(e2e) <= 16):
        errs.append("end_to_end: 1 to 16")
    for m in e2e if isinstance(e2e, list) else []:
        if set(m) != {"name", "unit", "better", "bound"}:
            errs.append("end_to_end keys %s" % sorted(m))
            continue
        name_ok(m["name"])
        if not (isinstance(m["unit"], str) and _UNIT.match(m["unit"])):
            errs.append("bad unit %r" % (m["unit"],))
        if m["better"] not in ("lower", "higher"):
            errs.append("bad better %r" % (m["better"],))
        if not (isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25):
            errs.append("bound of %r not in (0, 0.25]" % m["name"])
    if not any(isinstance(m, dict) and m.get("name") == "setup_s" and m.get("unit") == "s" and
               m.get("better") == "lower" for m in (e2e if isinstance(e2e, list) else [])):
        errs.append("end_to_end needs setup_s in s, lower")
    pl = b["per_layer"]
    if not (isinstance(pl, list) and 1 <= len(pl) <= 128):
        errs.append("per_layer: 1 to 128")
    for m in pl if isinstance(pl, list) else []:
        if set(m) != {"name", "unit", "better"}:
            errs.append("per_layer keys %s" % sorted(m))
            continue
        name_ok(m["name"])
        if not (isinstance(m["unit"], str) and _UNIT.match(m["unit"])):
            errs.append("bad unit %r" % (m["unit"],))
        if m["better"] not in ("lower", "higher"):
            errs.append("bad better %r" % (m["better"],))
    return errs
