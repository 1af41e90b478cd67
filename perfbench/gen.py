"""Seeded input generator for the ingest benchmark.

`generate(workload, seed, out_dir)` writes one workload's inputs (data
files, connector recipes, asset contracts, job templates) under
`out_dir` and returns a manifest: the job templates plus every count and
checksum the program's output must reproduce. The same seed always
writes byte-identical files; the program only ever sees these files.

Job templates carry two placeholders, `{OUT}` and `{STATE}`, that the
harness fills per run so repeated runs of one job never share output or
cursor state. A filled template is written one directory below
`out_dir`, so its relative paths start with `../`.
"""

import datetime as dt
import hashlib
import json
import os
import random
import zlib

WORKLOADS = ("spine_csv", "curate_docs", "tenant_batch")

# Sizes are chosen so a warm job takes one to three seconds on four cores:
# long enough to be data-bound on spine_csv, short enough for several
# jobs per measured window.
SPINE_ROWS = 120_000
SPINE_FILES = 8
DOCS = 2_000
DOC_FILES = 8
TENANT_JOBS = 8
TENANT_ROWS = 2_000
TENANT_TOUCHED = 2  # inputs rewritten between pass 2 and pass 3
SAMPLE_FRACTION = 0.8

RECIPE_CSV = """name: csv
type: csv
roles: [source]
default_engine:
  type: native
  options:
    native: {delimiter: ",", quote_char: '"'}
"""
RECIPE_JSONL = """name: jsonl
type: jsonl
roles: [source]
default_engine: {type: native}
"""
RECIPE_PARQUET = """name: parquet
type: parquet
roles: [source, target]
default_engine: {type: native}
"""


def _rng(workload, seed):
    return random.Random(zlib.crc32(workload.encode()) * 1_000_003 + seed)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _epoch():
    return dt.datetime(1992, 1, 1)


# --------------------------------------------------------------- spine_csv

SPINE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
              "l_linestatus", "l_shipdate", "l_shipmode"]

SPINE_ASSET = """asset:
  name: lineitem
  version: "1.0"
  domain: sales
  data_product: spine
  schema:
    - {name: l_orderkey, type: integer, required: true}
    - {name: l_partkey, type: integer, required: true}
    - {name: l_suppkey, type: integer, required: true}
    - {name: l_linenumber, type: integer, required: true}
    - {name: l_quantity, type: double, required: true}
    - {name: l_extendedprice, type: double, required: true}
    - {name: l_discount, type: double, required: false}
    - {name: l_returnflag, type: string, required: true}
    - {name: l_linestatus, type: string, required: true}
    - {name: l_shipdate, type: timestamp, required: true}
    - {name: l_shipmode, type: string, required: false}
"""

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
NULL_MARKERS = ["", "NULL", "null", "None"]


def _spine(rng, out):
    files = [os.path.join(out, "data", f"lineitem_{i:02d}.csv")
             for i in range(SPINE_FILES)]
    per_file = SPINE_ROWS // SPINE_FILES
    key_sum = cents_sum = 0
    max_ship = None
    orderkey = 0
    for path in files:
        lines = [",".join(SPINE_COLS)]
        n = 0
        while n < per_file:
            orderkey += rng.randint(1, 4)
            for line in range(1, rng.randint(1, 7) + 1):
                if n == per_file:
                    break
                n += 1
                qty = rng.randint(1, 50)
                cents = qty * rng.randint(90_000, 200_000) // 100
                ship = _epoch() + dt.timedelta(
                    days=rng.randint(0, 2400), seconds=rng.randint(0, 86_399))
                shape = rng.randrange(3)
                if shape == 0:  # date only: the time of day is dropped
                    ship = ship.replace(hour=0, minute=0, second=0)
                    ship_s = ship.strftime("%Y-%m-%d")
                elif shape == 1:
                    ship_s = ship.strftime("%Y-%m-%d %H:%M:%S")
                else:
                    ship_s = ship.strftime("%Y-%m-%dT%H:%M:%SZ")
                # padded numerics and null markers in optional columns,
                # both of which the contract accepts
                pad = " " if rng.random() < 0.1 else ""
                disc = (rng.choice(NULL_MARKERS) if rng.random() < 0.05
                        else f"{rng.randint(0, 10) / 100:.2f}")
                mode = (rng.choice(NULL_MARKERS) if rng.random() < 0.05
                        else rng.choice(SHIPMODES))
                flag = "R" if ship < dt.datetime(1995, 6, 17) and rng.random() < 0.5 \
                    else ("A" if ship < dt.datetime(1995, 6, 17) else "N")
                lines.append(",".join([
                    f"{pad}{orderkey}", str(rng.randint(1, 200_000)),
                    str(rng.randint(1, 10_000)), str(line), f"{qty}{pad}",
                    f"{cents // 100}.{cents % 100:02d}", disc, flag,
                    "F" if flag != "N" else "O", ship_s, mode]))
                key_sum += orderkey * 8 + line
                cents_sum += cents
                max_ship = ship if max_ship is None or ship > max_ship else max_ship
        _write(path, "\n".join(lines) + "\n")
    _write(os.path.join(out, "recipe_csv.yaml"), RECIPE_CSV)
    _write(os.path.join(out, "recipe_parquet.yaml"), RECIPE_PARQUET)
    _write(os.path.join(out, "asset.yaml"), SPINE_ASSET)
    template = "\n".join([
        "tenant_id: acme",
        "source_connector_path: ../recipe_csv.yaml",
        "target_connector_path: ../recipe_parquet.yaml",
        "asset_path: ../asset.yaml",
        "schema_validation_mode: strict",
        "source:",
        "  files:",
        *[f"    - {{path: ../data/{os.path.basename(p)}, object: lineitem}}"
          for p in files],
        "  incremental:",
        "    strategy: file_modified_time",
        "    cursor_field: l_shipdate",
        "    state_path: {STATE}",
        "target:",
        "  connection: {path: {OUT}}",
        "  partitioning: [l_returnflag]",
        ""])
    return {
        "jobs": [{
            "name": "lineitem",
            "template": template,
            "output": "sales/spine/lineitem",
            "inputs": [os.path.relpath(p, out) for p in files],
            "expect": {
                "exit": 0, "records": SPINE_ROWS, "valid": SPINE_ROWS,
                "errors": {}, "rows": SPINE_ROWS,
                "checksums": {
                    "sum(l_orderkey * 8 + l_linenumber)": key_sum,
                    "sum(cast(round(l_extendedprice * 100) as bigint))": cents_sum,
                },
                "cursor": {"object": "lineitem", "field": "l_shipdate",
                           "value": max_ship.strftime("%Y-%m-%d %H:%M:%S")},
            },
        }],
    }


# ------------------------------------------------------------- curate_docs

DOCS_ASSET = """asset:
  name: documents
  version: "1.0"
  domain: corpus
  data_product: web
  schema:
    - {name: doc_id, type: integer, required: true}
    - {name: url, type: string, required: false}
    - {name: text, type: string, required: true}
    - {name: crawl_ts, type: timestamp, required: false}
"""

CURATION = f"""curation:
  id_field: doc_id
  text_field: text
  extract: html
  normalize: nfc
  dedupe: near
  quality_filter: [gopher, entropy]
  sample: bernoulli
  sample_fraction: {SAMPLE_FRACTION}
"""

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def sample_kept(doc_id, fraction=SAMPLE_FRACTION):
    """The curation block's deterministic Bernoulli draw: the first 60
    bits of md5(str(id)) against `fraction` of the 2^60 key space."""
    key = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return key < int(fraction * 2.0 ** 60)


def _prose(rng, vocab, words):
    out, i = [], 0
    while i < words:
        n = min(words - i, rng.randint(8, 15))
        out.append(" ".join(rng.choice(vocab) for _ in range(n)) + ".")
        i += n
    return out


def _html(sentences):
    paras = [" ".join(sentences[i:i + 3]) for i in range(0, len(sentences), 3)]
    body = "".join(f"<p>{p}</p>" for p in paras)
    return f"<html><head><title>page</title></head><body><div>{body}</div></body></html>"


def _docs(rng, out):
    vocab = sorted({"".join(rng.choice(_LETTERS) for _ in range(rng.randint(3, 9)))
                    for _ in range(6000)})
    docs = []  # (doc_id, html, kind)
    goods = []  # sentence lists of good docs, for near-dup followers
    for doc_id in range(1, DOCS + 1):
        r = rng.random()
        if r < 0.10 and goods:
            # near-duplicate: an earlier good page with its last word
            # changed, so word-3-shingle Jaccard stays above 0.97
            src = rng.choice(goods)
            last = src[-1].split(" ")
            last[-1] = rng.choice(vocab) + "."
            docs.append((doc_id, _html(src[:-1] + [" ".join(last)]), "dup"))
        elif r < 0.20:  # too few words for the Gopher window
            docs.append((doc_id, _html(_prose(rng, vocab, rng.randint(8, 20))), "short"))
        elif r < 0.30:  # one word dominates: fails the top-word cap
            w = rng.choice(vocab)
            words = [w if rng.random() < 0.4 else rng.choice(vocab)
                     for _ in range(rng.randint(60, 120))]
            docs.append((doc_id, _html([" ".join(words) + "."]), "repetitive"))
        else:
            sents = _prose(rng, vocab, rng.randint(100, 180))
            goods.append(sents)
            docs.append((doc_id, _html(sents), "good"))
    kept = [d for d, _, kind in docs if kind == "good" and sample_kept(d)]
    files = [os.path.join(out, "data", f"docs_{i:02d}.jsonl") for i in range(DOC_FILES)]
    base = dt.datetime(2024, 1, 1)
    for i, path in enumerate(files):
        lines = []
        for doc_id, html, _ in docs[i::DOC_FILES]:
            ts = base + dt.timedelta(seconds=doc_id * 37)
            lines.append(json.dumps({
                "doc_id": doc_id, "url": f"https://site{doc_id % 97}.example/{doc_id}",
                "text": html, "crawl_ts": ts.strftime("%Y-%m-%dT%H:%M:%SZ")},
                separators=(",", ":")))
        _write(path, "\n".join(lines) + "\n")
    _write(os.path.join(out, "recipe_jsonl.yaml"), RECIPE_JSONL)
    _write(os.path.join(out, "recipe_parquet.yaml"), RECIPE_PARQUET)
    _write(os.path.join(out, "asset.yaml"), DOCS_ASSET)
    template = "\n".join([
        "tenant_id: acme",
        "source_connector_path: ../recipe_jsonl.yaml",
        "target_connector_path: ../recipe_parquet.yaml",
        "asset_path: ../asset.yaml",
        "schema_validation_mode: strict",
        CURATION.rstrip("\n"),
        "source:",
        "  files:",
        *[f"    - {{path: ../data/{os.path.basename(p)}, object: documents}}"
          for p in files],
        "  incremental:",
        "    strategy: file_modified_time",
        "    state_path: {STATE}",
        "target:",
        "  connection: {path: {OUT}}",
        ""])
    return {
        "jobs": [{
            "name": "documents",
            "template": template,
            "output": "corpus/web/documents",
            "inputs": [os.path.relpath(p, out) for p in files],
            "expect": {
                "exit": 0, "records": DOCS, "valid": len(kept), "errors": {},
                "rows": len(kept),
                "checksums": {
                    "sum(doc_id)": sum(kept),
                    "sum(doc_id * doc_id)": sum(d * d for d in kept),
                },
                "cursor": None,
            },
        }],
    }


# ------------------------------------------------------------ tenant_batch

EVENTS_ASSET = """asset:
  name: events
  version: "1.0"
  domain: product
  data_product: telemetry
  schema:
    - {name: event_id, type: integer, required: true}
    - {name: user_id, type: integer, required: true}
    - {name: event_type, type: string, required: true}
    - {name: ts, type: timestamp, required: true}
    - {name: amount, type: double, required: false}
    - {name: country, type: string, required: false}
"""

EVENT_TYPES = ["view", "click", "cart", "purchase", "refund", "login"]
COUNTRIES = ["DE", "FR", "US", "JP", "BR", "IN", "NG", "AU"]


def _ts_shape(rng, t):
    """(rendered, value as parsed): only shapes the contract accepts.
    Microsecond fractions go with a 'T' separator and 'Z';
    "yyyy-MM-dd HH:mm:ss.ffffff" would be rejected."""
    shape = rng.randrange(3)
    if shape == 0:
        return t.strftime("%Y-%m-%d %H:%M:%S"), t.replace(microsecond=0)
    if shape == 1:
        return t.strftime("%Y-%m-%dT%H:%M:%SZ"), t.replace(microsecond=0)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ"), t


def _tenant(rng, out):
    common = os.path.join(out, "common")
    _write(os.path.join(common, "recipe_csv.yaml"), RECIPE_CSV)
    _write(os.path.join(common, "recipe_parquet.yaml"), RECIPE_PARQUET)
    _write(os.path.join(common, "asset.yaml"), EVENTS_ASSET)
    touched = set(rng.sample(range(TENANT_JOBS), TENANT_TOUCHED))
    jobs = []
    event_id = 0
    for j in range(TENANT_JOBS):
        warn = j % 4 == 3
        n = TENANT_ROWS + rng.randint(-50, 50)
        bad = rng.randint(5, 40) if warn else 0
        bad_rows = set(rng.sample(range(n), bad))
        lines = ["event_id,user_id,event_type,ts,amount,country"]
        id_sum = null_amount = 0
        max_ts = None
        start = dt.datetime(2024, 3, 1) + dt.timedelta(days=j)
        for i in range(n):
            event_id += 1
            t = start + dt.timedelta(microseconds=rng.randint(0, 86_400_000_000 - 1))
            if i in bad_rows:  # a type mismatch: NULL in the output
                amount = f"n/a-{rng.randint(0, 9)}"
                null_amount += 1
            elif rng.random() < 0.05:
                amount = rng.choice(NULL_MARKERS)
                null_amount += 1
            else:
                amount = f"{rng.randint(0, 99_999) / 100:.2f}"
            country = rng.choice(NULL_MARKERS) if rng.random() < 0.03 else rng.choice(COUNTRIES)
            ts, t = _ts_shape(rng, t)
            lines.append(f"{event_id},{rng.randint(1, 5000)},{rng.choice(EVENT_TYPES)},"
                         f"{ts},{amount},{country}")
            id_sum += event_id
            max_ts = t if max_ts is None or t > max_ts else max_ts
        name = f"events_{j:02d}"
        _write(os.path.join(out, "data", f"{name}.csv"), "\n".join(lines) + "\n")
        template = "\n".join([
            "tenant_id: acme",
            "source_connector_path: ../common/recipe_csv.yaml",
            "target_connector_path: ../common/recipe_parquet.yaml",
            "asset_path: ../common/asset.yaml",
            f"schema_validation_mode: {'warn' if warn else 'strict'}",
            "source:",
            "  files:",
            f"    - {{path: ../data/{name}.csv, object: {name}}}",
            "  incremental:",
            "    strategy: file_modified_time",
            "    cursor_field: ts",
            "    state_path: {STATE}",
            "target:",
            "  connection: {path: {OUT}}",
            "  partitioning: [event_type]",
            ""])
        jobs.append({
            "name": name,
            "template": template,
            "output": "product/telemetry/events",
            "inputs": [f"data/{name}.csv"],
            "touched": j in touched,
            "expect": {
                "exit": 1 if bad else 0, "records": n, "valid": n,
                "errors": {"type_mismatch:amount": bad} if bad else {},
                "rows": n,
                "checksums": {"sum(event_id)": id_sum,
                              "count_if(amount is null)": null_amount},
                "cursor": {"object": name, "field": "ts",
                           "value": max_ts.strftime("%Y-%m-%d %H:%M:%S.%f")},
            },
        })
    return {"jobs": jobs, "concurrency": 2}


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs for `seed` under `out_dir`; return and
    save (as `manifest.json`) what the program must produce from them."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = _rng(workload, seed)
    build = {"spine_csv": _spine, "curate_docs": _docs, "tenant_batch": _tenant}[workload]
    manifest = {"workload": workload, "seed": seed, **build(rng, out_dir)}
    manifest["input_bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, p))
        for job in manifest["jobs"] for p in job["inputs"])
    _write(os.path.join(out_dir, "manifest.json"), json.dumps(manifest, indent=1))
    return manifest
