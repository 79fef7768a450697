"""Seeded benchmark inputs.

Seed 0 is the committed base tables (data/sf0.01, the engine's sf0.01
test fixture) verbatim. Any other seed perturbs them with the copy scheme
of tools/make_sf1.py, keyed by zlib.crc32 of the seed:
  - documents: the vocabulary is resampled by a crc32-keyed permutation
    (each word maps to one other word, keyed by the word, not the
    document), so the corpus keeps its near-duplicate structure and word
    statistics and every seed does the same amount of work;
  - embeddings: every component moves by a crc32-keyed offset in
    [-0.005, 0.005] (make_sf1's offset scaled down 10x, so nearest
    neighbours mostly survive);
  - events: shifted by a whole number of 31-day strides;
  - TPC-H facts: order and customer keys shifted by a whole number of key
    strides (children shift with their parents); dimensions verbatim.
The metric-stream tick trace and the lake change sets are drawn from the
same seed (the lake change sets inside the JVM, from the same seed).
"""
import os
import shutil
import zlib

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# metric-stream trace shape
TICK_SEC = 30
TRACE_TICKS = 60
WARM_TICKS = 30


def h32(*parts):
    return zlib.crc32(":".join(str(p) for p in parts).encode()) & 0xFFFFFFFF


def _read(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _write(t, like, out, name):
    pq.write_table(t.cast(like.schema), os.path.join(out, f"{name}.parquet"))


def tables(seed, out):
    """Write the input tables for `seed` into directory `out`."""
    shutil.copytree(BASE, out)
    if seed == 0:
        return

    docs = _read("documents")
    text = docs.column("text").to_pylist()
    vocab = sorted({w for t in text for w in t.split(" ") if w})
    remap = dict(zip(vocab, sorted(vocab, key=lambda w: h32(seed, "word", w))))
    new_text = [" ".join(remap.get(w, w) for w in t.split(" ")) for t in text]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(new_text, pa.string()))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in new_text], pa.int64()))
    _write(docs, _read("documents"), out, "documents")

    emb = _read("embeddings")
    ids = emb.column("vec_id").to_pylist()
    vecs = emb.column("embedding").to_pylist()
    moved = [[x + ((h32(seed, i, j) % 1001) - 500) / 100000.0 for j, x in enumerate(v)]
             for i, v in zip(ids, vecs)]
    emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                         pa.array(moved, pa.list_(pa.float32())))
    _write(emb, _read("embeddings"), out, "embeddings")

    ev = _read("events")
    days = 31 * (1 + h32(seed, "events") % 3)
    shifted = pc.add(ev.column("ts"), pa.scalar(days * 86400 * 10**6, pa.duration("us")))
    ev2 = ev.set_column(ev.schema.get_field_index("ts"), "ts", shifted)
    _write(ev2, ev, out, "events")

    k = 1 + h32(seed, "keys") % 3
    o_stride = pc.max(_read("orders").column("o_orderkey")).as_py() + 1
    c_stride = pc.max(_read("customer").column("c_custkey")).as_py() + 1
    for name, shifts in (("customer", {"c_custkey": c_stride}),
                         ("orders", {"o_orderkey": o_stride, "o_custkey": c_stride}),
                         ("lineitem", {"l_orderkey": o_stride})):
        t = _read(name)
        for col, stride in shifts.items():
            i = t.schema.get_field_index(col)
            t = t.set_column(i, col, pc.add(t.column(col), k * stride))
        _write(t, _read(name), out, name)


def _tick_line(ts, avail, total):
    payload = ('{\\"clusterMetrics\\": {\\"availableVirtualCores\\": %d, '
               '\\"totalVirtualCores\\": %d}}' % (avail, total))
    return '{"ts": %d, "payload": "%s"}' % (ts, payload)


def ticks(seed, salt, n):
    """`n` YARN cluster-metrics ticks, 30 s apart: runs of busy (at most
    25% of cores free: scale-out), drained (over 75% free: scale-in) and
    in-between load, each run 12 to 35 ticks long."""
    t0 = 1_700_000_000 + h32(seed, salt, "t0") % 86400
    total = 16
    lines, seg, i = [], 0, 0
    while i < n:
        length = 12 + h32(seed, salt, "len", seg) % 24
        kind = ("busy", "drained", "busy", "mid")[h32(seed, salt, "kind", seg) % 4] \
            if seg % 2 == 0 else "drained"
        lo, hi = {"busy": (0, 4), "drained": (13, 16), "mid": (5, 11)}[kind]
        for _ in range(min(length, n - i)):
            avail = lo + h32(seed, salt, "v", i) % (hi - lo + 1)
            lines.append(_tick_line(t0 + i * TICK_SEC, avail, total))
            i += 1
        seg += 1
    return lines


def stream(seed, out):
    """Write the measured trace and the shorter warm-up trace."""
    os.makedirs(out, exist_ok=True)
    for name, salt, n in (("trace.jsonl", "trace", TRACE_TICKS),
                          ("warm.jsonl", "warm", WARM_TICKS)):
        with open(os.path.join(out, name), "w") as f:
            f.write("\n".join(ticks(seed, salt, n)) + "\n")
