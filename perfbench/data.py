"""Seeded inputs for the benchmark.

``write_tables`` writes the ten registry tables (region ... embeddings)
as parquet, shaped like the engine's reference test data: the same
columns, types, key ranges, value domains and row counts per scale
factor.  ``make_pings`` builds the JSON ping envelopes the ETL workload
streams, with a tally of what the jobs must count.

Both are pure functions of their seed, so the same seed gives the same
bytes.  Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Texts over a 30-word vocabulary; ~5% are near-duplicates of an
    earlier text (suffix `dup`) and a few are exact copies, so the
    dedup queries have something to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.0517:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        }),
    }
    gap_us = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    tables["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gap_us)),
        "user_id": i64(rng.integers(0, max(150, int(15_000 * sf)), n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    tables["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
    return tables


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``; the directory
    appears only once complete (written aside, then renamed)."""
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


# --- pings -----------------------------------------------------------

WINDOW_NS = 5 * 60 * 1_000_000_000
EPOCH_NS = 1_483_228_800 * 1_000_000_000  # 2017-01-01T00:00:00Z, a window boundary
EXPERIMENTS = ["exp-a", "exp-b", "exp-c", "exp-d"]
BRANCHES = ["control", "treatment"]
CHANNELS = ["release", "beta", "nightly", "aurora"]
COUNTRIES = ["IT", "US", "DE", "FR", "BR", "IN"]
OSES = [("Windows_NT", "10.0"), ("Darwin", "17.4.0"), ("Linux", "4.15.0-generic")]
FRAMES = [
    ("abort", "libc.so"), ("memcpy", "libc.so"), ("moz_abort", "libmozglue.so"),
    ("mozilla::dom::Element::SetAttr(nsAtom*, nsAString const&)", "libxul.so"),
    ("nsDocShell::LoadURI", "libxul.so"), ("js::RunScript", "libxul.so"),
    ("mozilla::ipc::MessageChannel::Send", "libxul.so"), ("NS_ProcessNextEvent", "libxul.so"),
    ("PresShell::Paint", "libxul.so"), ("nsThread::ProcessNextEvent", "libxul.so"),
]


def _meta(rng, ts_ns: int, doc_type: str, app: str, channel: str) -> dict:
    day = dt.datetime.fromtimestamp(ts_ns // 1_000_000_000, dt.timezone.utc)
    build = day - dt.timedelta(days=int(rng.integers(1, 90)))
    return {
        "Timestamp": ts_ns,
        "docType": doc_type,
        "documentId": f"{doc_type}-{ts_ns}",
        "appName": app,
        "appVersion": "57.0",
        "appBuildId": build.strftime("%Y%m%d%H%M%S"),
        "normalizedChannel": channel,
        "clientId": f"client{int(rng.integers(0, 500))}",
        "sampleId": float(rng.integers(0, 100)),
        "geoCountry": COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
        "submissionDate": day.strftime("%Y%m%d"),
    }


def _environment(rng, meta: dict, old_build: bool) -> dict:
    os_name, os_version = OSES[int(rng.integers(0, len(OSES)))]
    build_id = "20150101000000" if old_build else meta["appBuildId"]
    exps = {e: {"branch": BRANCHES[int(rng.integers(0, 2))]}
            for e in EXPERIMENTS if rng.random() < 0.3}
    return {
        "build": {"architecture": "x86-64", "buildId": build_id,
                  "version": "57.0", "displayVersion": "57.0b" + str(int(rng.integers(1, 9)))},
        "system": {"os": {"name": os_name, "version": os_version}},
        "addons": ({"activeExperiment": {"id": "addon-exp", "branch": "on"}}
                   if rng.random() < 0.2 else {}),
        "experiments": exps,
    }


def _main_payload(rng, with_usage: bool) -> dict:
    def hist(p):
        return {"values": {"0": int(rng.integers(1, 5))}} if rng.random() < p else None

    info = {"subsessionCounter": 1, "sessionId": "s"}
    if with_usage:
        info["subsessionLength"] = int(rng.integers(0, 100_000))
    histograms = {h: v for h, v in {
        "BROWSER_SHIM_USAGE_BLOCKED": hist(0.3), "PERMISSIONS_SQL_CORRUPTED": hist(0.1),
        "DEFECTIVE_PERMISSIONS_SQL_REMOVED": hist(0.1), "SLOW_SCRIPT_NOTICE_COUNT": hist(0.4),
        "SLOW_SCRIPT_PAGE_COUNT": hist(0.4),
    }.items() if v is not None}
    crashes = {k: v for k, v in {k: hist(0.3) for k in ("content", "gpu", "plugin", "gmplugin")}.items()
               if v is not None}
    return {"info": info, "histograms": histograms,
            "keyedHistograms": {"SUBPROCESS_CRASHES_WITH_DUMP": crashes}}


def _crash_payload(rng, process_type) -> dict:
    depth = int(rng.integers(2, 7))
    idx = rng.choice(len(FRAMES), depth, replace=False)
    return {
        "crashDate": "2017-01-01",
        "processType": process_type,
        "metadata": {
            "StartupCrash": "1" if rng.random() < 0.2 else "0",
            "ipc_channel_error": "ShutDownKill" if rng.random() < 0.3 else None,
        },
        "stackTraces": {
            "crash_info": {"crashing_thread": 0, "type": "SIGSEGV", "address": "0x0"},
            "threads": [{"frames": [{"function": FRAMES[i][0], "module": FRAMES[i][1]} for i in idx]}],
        },
    }


def _ping(rng, kind: str, ts_ns: int) -> dict:
    """One envelope of ``kind``: main / crash / core (allowed), or
    disallowed (wrong app or channel) / rejected (a reject rule trips)."""
    app = "Fennec" if rng.random() < 0.1 else "Firefox"
    channel = CHANNELS[int(rng.integers(0, len(CHANNELS)))]
    if kind == "core":
        meta = _meta(rng, ts_ns, "core", "Fennec", channel)
        return {"meta": meta, "payload": {
            "arch": "arm64-v8a", "os": "Android", "osversion": "26",
            "durations": int(rng.integers(0, 7200)), "seq": 1, "displayVersion": "57.0b1"}}
    if kind == "disallowed":
        bad_app = rng.random() < 0.5
        meta = _meta(rng, ts_ns, "main", "Thunderbird" if bad_app else app,
                     channel if bad_app else "Other")
        return {"meta": meta, "environment": _environment(rng, meta, False),
                "payload": _main_payload(rng, True)}
    if kind == "rejected":
        meta = _meta(rng, ts_ns, "main", app, channel)
        no_usage = rng.random() < 0.5
        return {"meta": meta, "environment": _environment(rng, meta, not no_usage),
                "payload": _main_payload(rng, not no_usage)}
    meta = _meta(rng, ts_ns, kind, app, channel)
    env = _environment(rng, meta, False)
    if kind == "crash":
        return {"meta": meta, "environment": env,
                "payload": _crash_payload(rng, None if rng.random() < 0.6 else "content")}
    return {"meta": meta, "environment": env, "payload": _main_payload(rng, True)}


KINDS = ["main", "crash", "core", "disallowed", "rejected", "malformed"]
KIND_P = [0.45, 0.25, 0.12, 0.08, 0.06, 0.04]


def make_pings(seed: int, n_files: int, pings_per_file: int) -> tuple[list[list[str]], dict]:
    """``n_files`` files of JSON lines plus one flush file.

    File ``i`` holds events of the 5-minute window ``i``, so the
    1-minute watermark closes each window one file later.  The flush
    file is one allowed ping an hour past the last window, which closes
    them all.  Timestamps are unique, so an output line can be traced
    back to its ping.

    The tally counts, over the data files only: ``allowed`` pings (what
    ErrorAggregator's all-up ``count`` must sum to), ``influx_crashes``
    (crash pings CrashesToInflux keeps: Firefox on release/beta/nightly)
    and ``crash_stacks`` (Timestamp -> stackTraces of those pings)."""
    rng = np.random.default_rng(seed)
    files: list[list[str]] = []
    tally = {"allowed": 0, "influx_crashes": 0, "crash_stacks": {}}
    for i in range(n_files):
        start = EPOCH_NS + i * WINDOW_NS
        offsets = np.sort(rng.choice(WINDOW_NS // 1000, pings_per_file, replace=False)) * 1000
        lines = []
        for off in offsets:
            kind = KINDS[int(rng.choice(len(KINDS), p=KIND_P))]
            ts = int(start + off)
            if kind == "malformed":
                lines.append('{"meta": {"Timestamp": %d, "docType": "main"' % ts)
                continue
            ping = _ping(rng, kind, ts)
            lines.append(json.dumps(ping))
            if kind in ("main", "crash", "core"):
                tally["allowed"] += 1
            if kind == "crash" and ping["meta"]["appName"] == "Firefox" and (
                ping["meta"]["normalizedChannel"] in ("release", "beta", "nightly")
            ):
                tally["influx_crashes"] += 1
                tally["crash_stacks"][ts] = ping["payload"]["stackTraces"]
        files.append(lines)
    flush_ts = EPOCH_NS + (n_files + 12) * WINDOW_NS
    files.append([json.dumps(_ping(rng, "core", flush_ts))])
    tally["flush_window_start_ns"] = flush_ts - flush_ts % WINDOW_NS
    return files, tally
