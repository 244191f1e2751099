"""Seeded input generators for the benchmark.

Everything the program reads is made here, from a seed:

* ``base_tables``: the ten fixture tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) with the schemas, physical
  parquet types and value domains the declared queries are written
  against (FIXTURES.md at the repository root). Row counts scale with
  ``sf``.
* ``replica``: an N-times copy of a base. Keys are shifted by a whole
  table span per copy, consistently across every foreign key, and each
  copy's ``documents.text`` and ``embeddings.embedding`` get a seeded
  perturbation, so near-duplicate and nearest-neighbour operators see N
  related but distinct corpora instead of N identical ones.
* ``stream_inputs``: the ``stream_ingest`` corpus, document batches and
  point reads, with the answers the reads must return.
* ``registry_passes``: the ``registry`` workload's seeded stratified
  sample of declared queries, in seeded orders.

Same arguments, same bytes: every random draw comes from a
``numpy.random.Generator`` seeded from the arguments.
"""
import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when any generator changes what it writes; cached inputs carry it.
VERSION = 4

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ["the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
         "table", "scan", "merge", "part", "window", "hash", "join", "batch",
         "stream", "spark", "group", "query", "row", "data", "filter",
         "customer", "line", "agg", "value", "column", "vector"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def _rng(*key):
    return np.random.default_rng([int(k) for k in key])


def _days(rng, n, start, end):
    """Midnight timestamps (µs since epoch) uniformly in [start, end]."""
    s = (datetime.date(*start) - datetime.date(1970, 1, 1)).days
    e = (datetime.date(*end) - datetime.date(1970, 1, 1)).days
    return rng.integers(s, e + 1, n).astype(np.int64) * US_PER_DAY


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _text(rng, n_docs, lo, hi, vocab):
    lens = rng.integers(lo, hi + 1, n_docs)
    toks = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(vocab[t] for t in toks[pos:pos + n]))
        pos += n
    return out


def _unit(rng, n, dim):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embedding_column(vectors):
    flat = pa.array(vectors.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vectors.size + 1, vectors.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _line_numbers(order_keys):
    """1, 2, ... within each order, so (l_orderkey, l_linenumber) is a
    unique key, as the declared queries' ORDER BY clauses assume."""
    idx = np.argsort(order_keys, kind="stable")
    ordered = order_keys[idx]
    first = np.r_[0, np.flatnonzero(ordered[1:] != ordered[:-1]) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, len(ordered)]))
    out = np.empty(len(order_keys), dtype=np.int32)
    out[idx] = np.arange(len(ordered)) - starts + 1
    return out


def base_tables(sf, seed):
    """The ten fixture tables at scale factor ``sf``."""
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), max(1, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    l_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": _line_numbers(l_order),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, n_li, (1995, 1, 2), (2001, 11, 4)))})
    start = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days * US_PER_DAY
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # 5 % planted near-duplicates: another document's text plus " dup"
    text = _text(rng, n_docs, 10, 100, VOCAB)
    dup = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~dup)
    for d in np.flatnonzero(dup):
        text[d] = text[originals[rng.integers(0, len(originals))]] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _embedding_column(_unit(rng, n_emb, EMBED_DIM)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def _shift(col, by):
    return pa.array(col.to_numpy() + by)


def _perturb_text(rng, texts, share):
    out = []
    for s in texts:
        toks = s.split(" ")
        body = toks[:-1] if toks[-1] == "dup" else toks
        hit = rng.random(len(body)) < share
        repl = rng.integers(0, len(VOCAB), len(body))
        body = [VOCAB[r] if h else w for w, h, r in zip(body, hit, repl)]
        out.append(" ".join(body + toks[len(body):]))
    return out


def replica(base, n, variant, text_share=0.4, vector_noise=1.0):
    """``n`` perturbed copies of ``base``, keys shifted per copy."""
    span = {k: base[k].num_rows for k in TABLES}
    parts = {k: [] for k in TABLES}
    for r in range(n):
        rng = _rng(variant, 2, r)
        c, o, li = base["customer"], base["orders"], base["lineitem"]
        parts["customer"].append(c.set_column(0, "c_custkey", _shift(c["c_custkey"], r * span["customer"]))
                                 .set_column(1, "c_name", pa.array(
                                     [f"Customer#{i + r * span['customer']:09d}" for i in range(c.num_rows)])))
        s = base["supplier"]
        parts["supplier"].append(s.set_column(0, "s_suppkey", _shift(s["s_suppkey"], r * span["supplier"])))
        p = base["part"]
        parts["part"].append(p.set_column(0, "p_partkey", _shift(p["p_partkey"], r * span["part"])))
        parts["orders"].append(o.set_column(0, "o_orderkey", _shift(o["o_orderkey"], r * span["orders"]))
                               .set_column(1, "o_custkey", _shift(o["o_custkey"], r * span["customer"])))
        parts["lineitem"].append(
            li.set_column(0, "l_orderkey", _shift(li["l_orderkey"], r * span["orders"]))
              .set_column(1, "l_partkey", _shift(li["l_partkey"], r * span["part"]))
              .set_column(2, "l_suppkey", _shift(li["l_suppkey"], r * span["supplier"])))
        ev = base["events"]
        n_users = int(pc.max(ev["user_id"]).as_py()) + 1
        parts["events"].append(ev.set_column(0, "event_id", _shift(ev["event_id"], r * span["events"]))
                               .set_column(2, "user_id", _shift(ev["user_id"], r * n_users)))
        d = base["documents"]
        text = _perturb_text(rng, d["text"].to_pylist(), text_share)
        parts["documents"].append(
            d.set_column(0, "doc_id", _shift(d["doc_id"], r * span["documents"]))
             .set_column(1, "text", pa.array(text))
             .set_column(4, "n_chars", pa.array(np.array([len(x) for x in text], dtype=np.int64))))
        e = base["embeddings"]
        v = np.stack(e["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
        v = v + rng.standard_normal(v.shape).astype(np.float32) * (vector_noise / np.sqrt(EMBED_DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        parts["embeddings"].append(e.set_column(0, "vec_id", _shift(e["vec_id"], r * span["embeddings"]))
                                   .set_column(1, "embedding", _embedding_column(v)))
    out = {k: pa.concat_tables(v) for k, v in parts.items() if v}
    out["region"], out["nation"] = base["region"], base["nation"]
    return out


def write_tables(tables, path):
    os.makedirs(path, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"), compression="snappy")


def cached(path, make):
    """Run ``make(tmp_path)`` once per path; a marker file closes the
    entry, so an interrupted generation is redone, never reused."""
    done = os.path.join(path, ".done")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        os.rename(tmp, path)
        open(done, "w").close()
    return path


# --- stream_ingest -----------------------------------------------------

STREAM_VOCAB = [f"w{i:04d}" for i in range(5000)]


def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def stream_inputs(path, variant, cfg):
    """Corpus, batches and reads for ``stream_ingest``; writes parquet
    under ``path`` and returns the schedule with the expected answers.

    Batch documents: ``dup_share`` exact copies of corpus documents,
    ``near_share`` near copies (``near_edit`` of their tokens replaced),
    the rest novel. Each read is a lookup at a fixed offset into a batch
    period: ``probeDedup`` of a few documents (exact copies of corpus
    documents under fresh ids, expected ``dup_of`` = the copied id, and
    novel documents, expected none), then ``readKeys`` of the ids it
    matched (expected their bootstrap text). Batch ids are above every
    corpus id and copies are exact, so these answers hold at any point
    of the ingest."""
    rng = _rng(variant, 3)
    n_corpus = cfg["corpus_docs"]
    corpus_text = _text(rng, n_corpus, 30, 80, STREAM_VOCAB)
    pq.write_table(_docs_table(np.arange(n_corpus), corpus_text), os.path.join(path, "corpus.parquet"))
    batches, next_id = [], n_corpus
    for b in range(cfg["batches"]):
        n = cfg["batch_docs"]
        kind = rng.choice(3, n, p=[cfg["dup_share"], cfg["near_share"],
                                   1 - cfg["dup_share"] - cfg["near_share"]])
        src = rng.integers(0, n_corpus, n)
        novel = _text(rng, n, 30, 80, STREAM_VOCAB)
        near = _perturb_stream(rng, [corpus_text[i] for i in src], cfg["near_edit"])
        texts = [corpus_text[s] if k == 0 else near[i] if k == 1 else novel[i]
                 for i, (k, s) in enumerate(zip(kind, src))]
        ids = np.arange(next_id, next_id + n)
        next_id += n
        f = os.path.join(path, f"batch-{b:05d}.parquet")
        pq.write_table(_docs_table(ids, texts), f)
        batches.append({"file": f, "due_ms": b * cfg["batch_interval_ms"], "rows": n,
                        "user_bytes": sum(len(t.encode()) + 8 for t in texts),
                        "dup_docs": int((kind == 0).sum()), "near_docs": int((kind == 1).sum())})
    warmup = os.path.join(path, "warmup.parquet")
    pq.write_table(_docs_table(np.arange(10 ** 11, 10 ** 11 + cfg["batch_docs"]),
                               _text(rng, cfg["batch_docs"], 30, 80, STREAM_VOCAB)), warmup)
    reads, probe_id = [], 10 ** 12
    for b in range(cfg["batches"]):
        for off in cfg["read_offsets_ms"]:
            f = os.path.join(path, f"read-{len(reads):05d}.parquet")
            n = cfg["probe_docs"]
            src = rng.integers(0, n_corpus, n // 2)
            novel = _text(rng, n - n // 2, 30, 80, STREAM_VOCAB)
            ids = np.arange(probe_id, probe_id + n)
            probe_id += n
            pq.write_table(_docs_table(ids, [corpus_text[s] for s in src] + novel), f)
            expect = [f"p\t{ids[j]}\t{src[j]}" for j in range(len(src))] + \
                     [f"p\t{ids[j]}\tnull" for j in range(len(src), n)] + \
                     [f"k\t{k}\t{corpus_text[k]}" for k in sorted(set(src.tolist()))]
            reads.append({"file": f, "due_ms": b * cfg["batch_interval_ms"] + off, "expect": expect})
    return {"corpus": os.path.join(path, "corpus.parquet"), "warmup": warmup,
            "corpus_user_bytes": sum(len(t.encode()) + 8 for t in corpus_text),
            "batches": batches, "reads": reads}


def _perturb_stream(rng, texts, share):
    out = []
    for s in texts:
        toks = s.split(" ")
        hit = rng.random(len(toks)) < share
        repl = rng.integers(0, len(STREAM_VOCAB), len(toks))
        out.append(" ".join(STREAM_VOCAB[r] if h else w for w, h, r in zip(toks, hit, repl)))
    return out


# --- registry ----------------------------------------------------------

def registry_passes(strata, seed, n):
    """One query drawn from each stratum; ``n`` passes over the draw,
    each in its own seeded order."""
    rng = _rng(seed, 4)
    picks = [s[int(rng.integers(0, len(s)))] for s in strata]
    return [[picks[i] for i in rng.permutation(len(picks))] for _ in range(n)]
