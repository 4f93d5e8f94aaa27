"""Seeded input generators for the benchmark.

Two families, both a pure function of (seed, size):

* ``make_tables``: the ten registry tables (region .. embeddings) as
  single-row-group parquet files with the schemas and value shapes
  the registry's keys and their DuckDB oracles expect.
* ``make_backlog``: a Firehose backlog of concatenated DATA_MESSAGE
  blocks, stored plain, gzip'd or gzip'd twice, with known shares of
  one-word events (dropped by the log-event quality gate) and of
  blocks redelivered in later files.  The generator's own record of
  what it staged is the ingest workload's expected result.

Only the contents depend on the seed: row counts, file counts, block
and event counts, drop shares and compression layers are fixed, so
every seed asks the program for the same amount of work.
"""
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ("join hash row batch scan customer column filter small slow "
             "merge order vector line data table agg value key stream "
             "window spark a group part big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(path, cols):
    # one row group per table, like the registry's fixtures
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def make_tables(out_dir, seed, sf):
    """Write region..embeddings under ``out_dir`` at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    p = lambda name: os.path.join(out_dir, name + ".parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    order_day = rng.integers(0, 2404, n_ord)
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(d0 + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    l_ok = rng.integers(0, n_ord, n_li)
    ship_day = np.clip(order_day[l_ok] + rng.integers(1, 80, n_li), 1, 2498)
    _write(p("lineitem"), {
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(d0 + ship_day * DAY_US)})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(t0 + ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document, one word changed
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = rng.choice(DOC_WORDS)
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, n)))
    _write(p("documents"), {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


# ── Firehose backlog ──────────────────────────────────────────────────

LOG_WORDS = ("request served user session cache miss hit latency ok error "
             "retry timeout upstream worker queue shard commit read write "
             "token auth start stop ready").split()
LOG_GROUPS = ["/aws/lambda/api", "/aws/lambda/etl", "/ecs/web", "/ecs/batch"]


def _stream(rng, i):
    # 1, 2, 3 and 5 '/'-segments: the prefix rule keeps the first two
    shapes = ["app", "svc/{i}", "2024/01/{i}",
              "2024/01/{d:02d}/app/i-{i}"]
    s = shapes[i % len(shapes)]
    return s.format(i=int(rng.integers(0, 50)), d=int(rng.integers(1, 29)))


def _prefix(stream):
    return "/".join(stream.split("/")[0:2])


def _passes(message):
    # the LogEventProfile quality gate: at least three words
    return len(message.split(" ")) >= 3


def make_backlog(out_dir, seed, n_files, blocks_per_file, events_per_block,
                 noise_per_block, redelivered_per_file):
    """Stage ``n_files`` Firehose objects under ``out_dir/staging``.

    Every block carries ``events_per_block`` events, of which
    ``noise_per_block`` have a one-word message (the quality gate's
    drop class).  From the third file on, ``redelivered_per_file`` of
    a file's blocks are byte-identical copies of blocks staged in
    earlier files (Kinesis at-least-once redelivery: same event ids).
    Files rotate plain / gzip / gzip-of-gzip and get strictly rising
    mtimes, so the file source admits them in staging order.

    Returns the generator's record: staged, gate-dropped and
    duplicate-dropped event counts and the expected table rows, which
    are also written to ``out_dir/expected.parquet``."""
    rng = np.random.default_rng([seed, 2])
    staging = os.path.join(out_dir, "staging")
    os.makedirs(staging, exist_ok=True)
    blocks, rows = [], {}
    staged = gate_dropped = dup_dropped = 0
    staged_bytes = plain_bytes = 0
    mtime0 = 1_700_000_000
    for f in range(n_files):
        body = []
        for b in range(blocks_per_file):
            if f >= 2 and b < redelivered_per_file:
                idx = int(rng.integers(0, len(blocks)))
                text, evs = blocks[idx]
                # a redelivered block's gate-passing events are the
                # duplicate drops; its one-word events are gate drops
                dup_dropped += sum(1 for ev in evs if _passes(ev[5]))
            else:
                bid = len(blocks)
                group = LOG_GROUPS[int(rng.integers(0, len(LOG_GROUPS)))]
                stream = _stream(rng, bid)
                noisy = set(rng.choice(events_per_block, noise_per_block,
                                       replace=False).tolist())
                base_ts = 1_704_067_200_000 + bid * 60_000
                evs = []
                for e in range(events_per_block):
                    if e in noisy:
                        msg = f"noise{int(rng.integers(0, 10**6))}"
                    else:
                        n = int(rng.integers(3, 13))
                        msg = " ".join(rng.choice(LOG_WORDS, n)) + f" n{e}"
                    evs.append((f"s{seed}-b{bid}-e{e}", base_ts + e, group,
                                stream, _prefix(stream), msg))
                text = json.dumps({
                    "messageType": "DATA_MESSAGE", "owner": "123456789012",
                    "logGroup": group, "logStream": stream,
                    "subscriptionFilters": ["all"],
                    "logEvents": [{"id": i, "timestamp": t, "message": m}
                                  for (i, t, _, _, _, m) in evs]},
                    separators=(",", ":"))
                blocks.append((text, evs))
            body.append(text)
            staged += len(evs)
            for ev in evs:
                if _passes(ev[5]):
                    rows[ev[0]] = ev
                else:
                    gate_dropped += 1
        data = "".join(body).encode("utf-8")
        plain_bytes += len(data)
        layers = f % 3
        name = f"part-{f:05d}" + ".gz" * layers
        for _ in range(layers):
            data = gzip.compress(data, compresslevel=6, mtime=0)
        path = os.path.join(staging, name)
        with open(path, "wb") as out:
            out.write(data)
        os.utime(path, (mtime0 + 10 * f, mtime0 + 10 * f))
        staged_bytes += len(data)
    cols = list(zip(*sorted(rows.values())))
    pq.write_table(pa.table({
        "id": list(cols[0]), "ts": pa.array(cols[1], pa.int64()),
        "log_group": list(cols[2]), "log_stream": list(cols[3]),
        "stream_prefix": list(cols[4]), "message": list(cols[5])}),
        os.path.join(out_dir, "expected.parquet"))
    committed = len(rows)
    if staged != committed + gate_dropped + dup_dropped:
        raise AssertionError(f"generator: {staged} staged != {committed} "
                             f"expected + {gate_dropped} gated + "
                             f"{dup_dropped} duplicates")
    record = {"staged_events": staged, "gate_dropped": gate_dropped,
              "dup_dropped": dup_dropped,
              "committed": committed, "files": n_files,
              "staged_bytes": staged_bytes, "plain_bytes": plain_bytes}
    with open(os.path.join(out_dir, "record.json"), "w") as out:
        json.dump(record, out)
    return record
