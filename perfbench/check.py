"""Output checks and statistics for the ingest benchmark.

`evaluate(manifest, result)` judges every operation the harness recorded
against what the generator expects and returns the failures; the
`metrics` helpers turn the recorded wall times into the end-to-end
numbers.
"""

import datetime as dt
import math
import statistics

NOOP_EXIT = 2  # a job that finds nothing new has zero valid records
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def _timestamp(s):
    """Parse a cursor value as Spark or the generator renders it."""
    date, _, frac = s.replace("T", " ").rstrip("Z").partition(".")
    t = dt.datetime.strptime(date, "%Y-%m-%d %H:%M:%S")
    return t + dt.timedelta(microseconds=int((frac + "000000")[:6]) if frac else 0)


def _expected_exit(expect, ingest):
    return expect["exit"] if ingest else NOOP_EXIT


def _batch_passes(manifest):
    """Expected batch exit code per pass of a tenant_batch round."""
    jobs = manifest["jobs"]
    exits = {
        1: [j["expect"]["exit"] for j in jobs],
        2: [NOOP_EXIT for _ in jobs],
        3: [j["expect"]["exit"] if j.get("touched") else NOOP_EXIT for j in jobs],
    }
    return {p: 0 if all(e == 0 for e in es) else 2 for p, es in exits.items()}


def check_op(op, expect, batch_exits):
    """Mismatches of one job execution (or one batch pass)."""
    kind = op["kind"]
    if kind == "batch":
        want = batch_exits[op["pass"]]
        return [] if op["exit"] == want else [f"batch exit {op['exit']} != {want}"]
    e = expect[op["job"]]
    ingest = kind == "ingest"
    want = {
        "exit": _expected_exit(e, ingest),
        "records": e["records"] if ingest else 0,
        "valid": e["valid"] if ingest else 0,
    }
    bad = [f"{k} {op[k]} != {v}" for k, v in want.items() if op[k] != v]
    if "errors" in op:
        errors = e["errors"] if ingest else {}
        if op["errors"] != errors:
            bad.append(f"errors {op['errors']} != {errors}")
    return bad


def check_output(out, expect):
    """Mismatches of one committed output read back after its ingests."""
    e = expect[out["job"]]
    times = out["ingests"]
    bad = []
    if out["rows"] != e["rows"] * times:
        bad.append(f"rows {out['rows']} != {e['rows'] * times}")
    for expr, v in e["checksums"].items():
        got = out["checksums"].get(expr)
        if got != v * times:
            bad.append(f"{expr} {got} != {v * times}")
    if out["files"] < 1:
        bad.append("no data files")
    cursor = e.get("cursor")
    if cursor is not None:
        got = out.get("cursor")
        if got is None or _timestamp(got) != _timestamp(cursor["value"]):
            bad.append(f"cursor {got} != {cursor['value']}")
    return bad


def evaluate(manifest, result):
    """(attempted, failures): every recorded operation and read-back is
    one attempt; an attempt fails on any mismatch with the manifest."""
    expect = {j["name"]: j["expect"] for j in manifest["jobs"]}
    batch_exits = _batch_passes(manifest)
    failures = []
    attempted = 0
    for op in result["ops"]:
        attempted += 1
        bad = check_op(op, expect, batch_exits)
        if bad:
            failures.append({"op": op["kind"], "job": op["job"], "iter": op["iter"],
                             "pass": op.get("pass"), "why": bad})
    for out in result["outputs"]:
        attempted += 1
        bad = check_output(out, expect)
        if bad:
            failures.append({"op": "output", "job": out["job"], "iter": out["iter"],
                             "why": bad})
    if result.get("probe_job"):  # the traced run's layer probes
        errors = sum(expect[result["probe_job"]]["errors"].values())
        layers = result["layers"]
        for name, want in (("core.invalid_rows", errors), ("state.skip_ratio", 1.0)):
            attempted += 1
            if layers.get(name) != want:
                failures.append({"op": "probe", "job": result["probe_job"], "iter": None,
                                 "why": [f"{name} {layers.get(name)} != {want}"]})
    return attempted, failures


# -------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(samples):
    """The highest of TAIL_PERCENTILES with at least ten samples beyond
    it (nearest rank), as (percentile, value); None when fewer than 20
    samples leave even the median without ten beyond it."""
    s = sorted(samples)
    n = len(s)
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            best = (p, s[rank - 1])
    return best


def end_to_end(manifest, result, traced):
    """End-to-end numbers from the untraced (or, with `traced`, the
    traced) warm operations, warm-up iterations left out, plus the
    samples they came from."""
    ops = [o for o in result["ops"] if o.get("wall_s") is not None]
    warm = [o for o in ops if o["iter"] >= 1 and o["traced"] == traced and not o.get("warmup")]
    ingests = [o for o in warm if o["kind"] == "ingest"]
    noops = [o for o in warm if o["kind"] == "noop"]
    batches = [o for o in warm if o["kind"] == "batch"]
    cold = [o for o in ops if o["iter"] == 0 and o["kind"] == "ingest"]
    records = {j["name"]: j["expect"]["records"] for j in manifest["jobs"]}
    job_s = [o["wall_s"] for o in ingests]
    if batches:  # jobs completed per second of runAll wall time
        jobs_per_s = sum(o["jobs"] for o in batches) / sum(o["wall_s"] for o in batches)
    else:
        done = ingests + noops
        jobs_per_s = len(done) / sum(o["wall_s"] for o in done)
    outs = result["outputs"]
    m = {
        "cold_job_s": cold[0]["wall_s"] if cold else float("nan"),
        "records_per_s": median([records[o["job"]] / o["wall_s"] for o in ingests]),
        "job_s.p50": median(job_s),
        "noop_job_s.p50": median([o["wall_s"] for o in noops]),
        "jobs_per_s": jobs_per_s,
        "out_bytes_per_record": sum(o["bytes"] for o in outs) / max(1, sum(o["rows"] for o in outs)),
        "files_written": median([o["files"] / o["ingests"] for o in outs]),
    }
    tail = tail_percentile(job_s)
    samples = {"job_s": [round(x, 4) for x in job_s],
               "noop_job_s": [round(o["wall_s"], 4) for o in noops], "batches": len(batches),
               "job_s.tail": {"percentile": tail[0], "value": tail[1]} if tail else None}
    return m, samples
