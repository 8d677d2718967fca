"""Seeded input generator for the benchmark workloads.

Every input is derived from the seed alone: the same seed writes the same
bytes, another seed writes other bytes. Tables mirror the shape of the
repository's star-schema test data (TPC-H-like tables, an `events` stream
table, `documents` and `embeddings`); replicas of `documents` and
`embeddings` use the disjoint-key scheme of `scripts/make_x10.py` (keys
shifted by replica * (max + 1), per-replica Caesar rotation of the text,
per-replica perturbation of the vectors), with the rotations and the
perturbations picked by the seed.

Single process, numpy and pyarrow only.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows of each table at scale 1.0 (the repository's sf0.1 test data)
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000}
DIM = 64

# per workload: scale of the star tables (1.0 = BASE_ROWS), documents and
# vectors per replica, and the replica count of the corpus
WORKLOADS = {
    "llm_corpus": {"scale": 0.02, "docs": 1500, "vecs": 600, "replicas": 2},
    "lakehouse_rw": {"scale": 0.02, "docs": 500, "vecs": 200, "replicas": 1},
}
# registry queries in the lakehouse_rw stream: a short star-schema
# operator (with the as-of join strategy) and the width-pinned llm query
# at small scale
LH_QUERIES = ["join_asof", "llm_dedup_embed"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "blue", "red", "hot", "old", "new", "green",
            "cold", "tiny", "heavy", "light", "shiny"]
PART_NOUN = ["ring", "plate", "rod", "bolt", "gear", "anvil", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ROT = ("abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")

# lakehouse_rw: lineitem-shaped batches and the operation stream
LH_BATCH_ROWS = 400
LH_APPENDS = 3
LH_STREAM_BATCHES = 2

def _us(d):
    return int((d - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6)


def _days(rng, lo, hi, n):
    lo_us, hi_us = _us(lo), _us(hi)
    days = rng.integers(0, (hi_us - lo_us) // 86_400_000_000 + 1, n)
    return pa.array(lo_us + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def star_tables(rng, scale):
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, datetime.datetime(1995, 1, 1),
                             datetime.datetime(2001, 8, 1), o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    t["lineitem"] = lineitem(rng, n["lineitem"], np.arange(0), o, p, s)
    e = n["events"]
    start = _us(datetime.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})
    return t


def lineitem(rng, n, orderkeys, n_orders, n_parts, n_supps):
    """Lineitem rows; `orderkeys` (when non-empty) fixes the keys."""
    keys = orderkeys if len(orderkeys) else rng.integers(0, n_orders, n)
    return pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, datetime.datetime(1995, 1, 2),
                            datetime.datetime(2001, 11, 4), n)})


def base_documents(rng, n_docs):
    lens = rng.integers(10, 101, n_docs)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% near-duplicates: a copy of another document with one word added
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return texts, _pick(rng, LANGS, n_docs, LANG_P)


def base_embeddings(rng, n_vecs):
    x = rng.standard_normal((n_vecs, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), rng.integers(0, 10, n_vecs)


def replicated_corpus(rng, n_docs, n_vecs, k):
    """k disjoint-key replicas of documents and embeddings."""
    texts, langs = base_documents(rng, n_docs)
    vecs, labels = base_embeddings(rng, n_vecs)
    rots = rng.permutation(26)[:k]
    scales = rng.uniform(0.0, 0.01, k)
    shifts = rng.uniform(0.0, 3e-4, k)
    docs, embs = [], []
    for i in range(k):
        r = int(rots[i])
        tr = str.maketrans(ROT[0] + ROT[1], ROT[0][r:] + ROT[0][:r]
                           + ROT[1][r:] + ROT[1][:r])
        rt = [s.translate(tr) for s in texts]
        ids = np.arange(n_docs) + i * n_docs
        docs.append(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(rt, pa.string()),
            "lang": langs,
            "source": pa.array([f"src{d % 20}" for d in range(n_docs)],
                               pa.string()),
            "n_chars": pa.array([len(s) for s in rt], pa.int64())}))
        v = (vecs * np.float32(1.0 + scales[i])
             + np.float32(shifts[i])).astype(np.float32)
        embs.append(pa.table({
            "vec_id": pa.array(np.arange(n_vecs) + i * n_vecs, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}))
    return pa.concat_tables(docs), pa.concat_tables(embs)


def lakehouse_stream(rng, n_orders, n_parts, n_supps):
    """Lineitem-shaped batches plus a seeded operation list.

    `l_orderkey` is unique across the appended batches, so a merge has at
    most one target row per key. The merge updates a key range of one of
    the two seed batches, which are always appended before it (a key it
    inserted must never be appended again), and inserts as many new keys;
    deletes and the update hit a key range inside one batch. After every write comes one read
    (tip, an older version, a point lookup or the change feed), so about
    half the operations write. The stream ingest reads its own batches.
    """
    n = LH_BATCH_ROWS
    batches = [lineitem(rng, n, np.arange(b * n, (b + 1) * n), n_orders,
                        n_parts, n_supps) for b in range(LH_APPENDS)]
    old = int(rng.integers(0, 2)) * n + int(rng.integers(0, n // 2))
    keys = np.concatenate([np.arange(old, old + n // 2),
                           np.arange(LH_APPENDS * n, LH_APPENDS * n + n // 2)])
    batches.append(lineitem(rng, n, keys, n_orders, n_parts, n_supps))
    stream = [lineitem(rng, n, np.arange(n), n_orders, n_parts, n_supps)
              for _ in range(LH_STREAM_BATCHES)]

    def key_range(b):
        lo = b * n + int(rng.integers(0, n - 100))
        return {"lo": lo, "hi": lo + 99}
    writes = [{"op": "append", "batch": b} for b in range(2, LH_APPENDS)]
    writes += [{"op": "merge", "batch": LH_APPENDS},
               {"op": "delete", **key_range(0)},
               {"op": "delete_dv", **key_range(1)},
               {"op": "update", **key_range(2),
                "tax": round(float(rng.integers(0, 9)) / 100.0, 2)}]
    reads = [{"op": "read_tip"}, {"op": "read_version", "back": 3},
             {"op": "point_lookup", "key": int(rng.integers(0, 3 * n))},
             {"op": "changes", "back": 2}]
    ops = [{"op": "append", "batch": b} for b in range(2)]
    for i in rng.permutation(len(writes)):
        ops.append(writes[i])
        ops.append(dict(reads[int(rng.integers(0, len(reads)))]))
    extras = [{"op": "stream_ingest"}, {"op": "compactor", "format": "parquet"},
              {"op": "compactor", "format": "avro"}]
    extras += [{"op": "query", "name": q} for q in LH_QUERIES]
    for extra in extras:
        ops.insert(int(rng.integers(2, len(ops) + 1)), extra)
    ops += [{"op": "sql_describe"}, {"op": "compact_zorder"},
            {"op": "sql_optimize"}, {"op": "vacuum"}, {"op": "read_tip"}]
    return batches, stream, ops


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def _zigzag(n):
    """Avro's variable-length zig-zag encoding of an int or long."""
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(b):
    return _zigzag(len(b)) + b


AVRO_TYPES = {pa.int64(): "long", pa.int32(): "int", pa.float64(): "double",
              pa.string(): "string"}


def write_avro(table, path, sync):
    """Write `table` as one uncompressed Avro container file (a single
    block). Timestamps become `timestamp-micros` longs."""
    fields, enc = [], []
    for f in table.schema:
        if pa.types.is_timestamp(f.type):
            fields.append({"name": f.name, "type": {
                "type": "long", "logicalType": "timestamp-micros"}})
            enc.append(_zigzag)
        elif AVRO_TYPES[f.type] == "double":
            fields.append({"name": f.name, "type": "double"})
            enc.append(lambda v: struct.pack("<d", v))
        elif AVRO_TYPES[f.type] == "string":
            fields.append({"name": f.name, "type": "string"})
            enc.append(lambda v: _avro_str(v.encode()))
        else:
            fields.append({"name": f.name, "type": AVRO_TYPES[f.type]})
            enc.append(_zigzag)
    schema = json.dumps({"type": "record", "name": "lineitem",
                         "fields": fields}).encode()
    cols = [(c.cast(pa.int64()) if pa.types.is_timestamp(c.type) else c)
            .to_pylist() for c in table.columns]
    body = b"".join(e(c[r]) for r in range(table.num_rows)
                    for e, c in zip(enc, cols))
    meta = (_zigzag(2) + _avro_str(b"avro.schema") + _avro_str(schema)
            + _avro_str(b"avro.codec") + _avro_str(b"null") + _zigzag(0))
    with open(path, "wb") as f:
        f.write(b"Obj\x01" + meta + sync + _zigzag(table.num_rows)
                + _zigzag(len(body)) + body + sync)


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns the manifest."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    os.makedirs(out, exist_ok=True)
    tables = star_tables(rng, spec["scale"])
    tables["documents"], tables["embeddings"] = replicated_corpus(
        rng, spec["docs"], spec["vecs"], spec["replicas"])
    manifest = {"workload": workload, "seed": seed, "tables": {}}
    for name, t in tables.items():
        write(t, os.path.join(out, f"{name}.parquet"))
        manifest["tables"][name] = {
            "rows": t.num_rows,
            "bytes": os.path.getsize(os.path.join(out, f"{name}.parquet"))}
    if workload == "lakehouse_rw":
        batches, stream, ops = lakehouse_stream(
            rng, tables["orders"].num_rows, tables["part"].num_rows,
            tables["supplier"].num_rows)
        for sub, tabs in (("batches", batches), ("stream", stream)):
            d = os.path.join(out, sub)
            os.makedirs(d, exist_ok=True)
            for i, b in enumerate(tabs):
                write(b, os.path.join(d, f"b{i:03d}.parquet"))
            manifest[sub] = {
                "count": len(tabs), "rows": sum(b.num_rows for b in tabs),
                "bytes": sum(os.path.getsize(os.path.join(d, n))
                             for n in os.listdir(d))}
        # fragmented compactor inputs: two partitions of small files
        frag = pa.concat_tables(batches)
        sync = rng.bytes(16)
        for part in range(2):
            half = frag.slice(part * frag.num_rows // 2, frag.num_rows // 2)
            for fmt, files in (("parquet", 4), ("avro", 3)):
                d = os.path.join(out, "frag", fmt, f"part={part}")
                os.makedirs(d, exist_ok=True)
                for i in range(files):
                    piece = half.slice(i * half.num_rows // files,
                                       half.num_rows // files)
                    p = os.path.join(d, f"f{i}.{fmt}")
                    if fmt == "parquet":
                        write(piece, p)
                    else:
                        write_avro(piece, p, sync)
        with open(os.path.join(out, "ops.json"), "w") as f:
            json.dump(ops, f)
        manifest["operations"] = len(ops)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
