"""Seeded input generator for the graft benchmark.

Writes the ten tables of TESTDATA.md (same names, columns and types)
into a directory, plus the streaming backlog, lookup batches and the
planted truth that the ingest_serve workload checks against.  The same
(workload, seed) always gives byte-identical files.

Planted properties (see SIZES and README.md):
  - corpus_curation documents: exact duplicates, one-word near-duplicate
    rewrites, and a boilerplate share whose common footer makes hot LSH
    bands;
  - events: user_id drawn from a Zipf law, so a few users are hot;
  - ingest_serve stream: exact copies and rewrites of indexed docs, and
    rewrites of docs admitted by an EARLIER micro-batch, which only the
    grown index catches.

Run as a script to write one input set:
  python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the reference documents table.
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Words that never occur in generated text: a rewrite swaps one of them
# in, so a rewrite is never byte-equal to its original.
REWRITE_WORDS = ["alpha", "bravo", "delta", "gamma", "omega", "sigma"]
BOILERPLATE = ("the data table is a stream of row value key part the batch "
               "scan group query fast sort merge join hash filter order")

# Sizes of every generated table and planted share, per workload.
SIZES = {
    "warehouse_sql": {
        "customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
        "lineitem": 30000, "events": 8000, "users": 150, "user_zipf_a": 1.3,
        "documents": 100, "embeddings": 100,
    },
    "corpus_curation": {
        "documents": 150, "exact_dup_frac": 0.08, "near_dup_frac": 0.08,
        "boilerplate_frac": 0.10,
        "customer": 100, "supplier": 10, "part": 100, "orders": 500,
        "lineitem": 2000, "events": 500, "users": 50, "user_zipf_a": 1.3,
        "embeddings": 100,
    },
    "ingest_serve": {
        "documents": 150, "exact_dup_frac": 0.05, "near_dup_frac": 0.05,
        "boilerplate_frac": 0.0,
        "doc_batches": 2, "docs_per_batch": 24,
        "batch_exact_of_base": 3, "batch_rewrite_of_base": 3,
        "batch_rewrite_of_earlier_batch": 3,
        "event_batches": 1, "events_per_batch": 400,
        "events": 2000, "users": 150, "user_zipf_a": 1.3,
        "embeddings": 200, "embedding_dim": 64, "embedding_clusters": 10,
        "lookup_doc_batch": 40, "lookup_near_per_batch": 4, "lookup_vec_batch": 40,
        "lookup_batches": 1,
        "customer": 100, "supplier": 10, "part": 100, "orders": 500,
        "lineitem": 2000,
    },
}

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _write(table, path):
    # Fixed writer settings and no pandas metadata: byte-identical output.
    pq.write_table(table, path, compression="snappy", version="2.6",
                   write_statistics=True, store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(rng.choice(VOCAB, size=int(n_words)))


def _spread(rng, lo, hi, n):
    """n integers evenly spread over [lo, hi], in a seeded order: seeds
    change which doc gets which length, never the total amount of text."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int)) if n else []


def _counts(shares, n):
    """Integer counts proportional to `shares` that sum to n."""
    c = np.floor(np.asarray(shares) * n).astype(int)
    c[0] += n - c.sum()
    return c


# Rewrites are made only of texts this long, so a rewrite keeps a
# trigram Jaccard >= 40/46 with its original: far above the 0.7 gate
# threshold, where 16x4 LSH banding misses a pair with p < 1e-5.
REWRITE_MIN_WORDS = 45


def _rewrite(rng, text):
    """One word replaced by a word that is not in VOCAB."""
    w = text.split(" ")
    i = int(rng.integers(0, len(w)))
    w[i] = REWRITE_WORDS[int(rng.integers(0, len(REWRITE_WORDS)))]
    return " ".join(w)


def trigrams(text):
    """The shingle set graft's near-dup operators use: distinct word
    trigrams of lower(trim(text)) split on single spaces."""
    w = text.strip().lower().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def relational(rng, sz):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    nc, ns, npart, no, nl = (sz["customer"], sz["supplier"], sz["part"],
                             sz["orders"], sz["lineitem"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    retail = np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(retail)})
    odate = EPOCH_1995 + rng.integers(0, 2400, no) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    lok = rng.integers(0, no, nl)
    lines = np.zeros(nl, dtype=np.int32)
    seen = {}
    for i, k in enumerate(lok):
        seen[k] = seen.get(k, 0) + 1
        lines[i] = min(seen[k], 7)
    lpk = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lines, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[lpk] *
                                             rng.uniform(0.95, 1.05, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, nl) * US_PER_DAY)})
    return t


def zipf_users(rng, n, users, a):
    """user_id with a Zipf-law skew: the k-th hottest user has a share
    proportional to k^-a (the same counts for every seed; the seed picks
    which user is hot and the event order)."""
    w = 1.0 / np.arange(1, users + 1) ** a
    ids = np.repeat(rng.permutation(users), _counts(w / w.sum(), n))
    return rng.permutation(ids).astype(np.int64)


def events(rng, n, users, a, first_id=0, start_us=EPOCH_2024):
    gaps = rng.integers(1, 2 * (30 * US_PER_DAY) // max(n, 1), n)
    ts = start_us + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(zipf_users(rng, n, users, a)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.permutation(np.repeat(LANGS, _counts(LANG_P, n)))),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def corpus(rng, n, exact_frac, near_frac, boiler_frac):
    """n documents: originals, then planted exact copies, one-word
    rewrites and boilerplate docs, shuffled.  Returns the texts and the
    count of each planted kind."""
    n_exact, n_near = int(n * exact_frac), int(n * near_frac)
    n_boiler = int(n * boiler_frac)
    n_orig = n - n_exact - n_near - n_boiler
    texts = [_text(rng, k) for k in _spread(rng, 20, 99, n_orig)]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_orig))])
    long_src = [x for x in texts if len(x.split(" ")) >= REWRITE_MIN_WORDS]
    for _ in range(n_near):
        texts.append(_rewrite(rng, long_src[int(rng.integers(0, len(long_src)))]))
    for k in _spread(rng, 8, 15, n_boiler):
        texts.append(_text(rng, k) + " " + BOILERPLATE)
    texts = [texts[i] for i in rng.permutation(len(texts))]
    return texts, {"exact": n_exact, "near": n_near, "boilerplate": n_boiler}


def embeddings(rng, n, cent, first_id=0):
    """n unit vectors around the rows of `cent`, labelled by centroid."""
    clusters, dim = cent.shape
    label = rng.permutation(np.arange(n) % clusters)
    v = cent[label] + rng.normal(0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def _best_jaccard(norm, index, inv):
    """Highest trigram Jaccard of a normalized text with any indexed one."""
    g = trigrams(norm)
    cands = set().union(*(inv.get(x, set()) for x in g)) if g else set()
    return max((jaccard(g, index[c]) for c in cands), default=0.0)


def near_verdicts(index_texts, batches, t=0.7):
    """Expected NearDupIndex gate verdicts, replayed in batch order:
    a doc is dropped when its normalized text equals an indexed one or
    an earlier doc of its batch, or when its trigram Jaccard with some
    indexed text is >= t; every admitted doc joins the index.  Returns
    (admitted ids, dropped ids, the smallest margin |J - t| seen, and
    the final index as (text -> trigrams, trigram -> texts))."""
    index = {}          # norm text -> trigram set
    inv = {}            # trigram -> set of norm texts
    def add(norm):
        if norm in index:
            return
        g = trigrams(norm)
        index[norm] = g
        for x in g:
            inv.setdefault(x, set()).add(norm)
    for x in index_texts:
        add(x.strip().lower())
    admitted, dropped, margin = [], [], 1.0
    for batch in batches:
        seen, keep = set(), []
        for doc_id, text in batch:
            norm = text.strip().lower()
            if norm in index or norm in seen:
                dropped.append(doc_id)
                seen.add(norm)
                continue
            seen.add(norm)
            best = _best_jaccard(norm, index, inv)
            margin = min(margin, abs(best - t))
            (dropped if best >= t else keep).append(doc_id)
            if best < t:
                admitted.append(doc_id)
        for doc_id in keep:
            add(dict(batch)[doc_id].strip().lower())
    return admitted, dropped, margin, (index, inv)


def lookup_status(text, index, inv, t=0.7):
    """Expected NearDupIndex.dedup verdict of a lone doc against the
    final index (no batch-mates share its text)."""
    norm = text.strip().lower()
    if norm in index:
        return "dup_corpus", 1.0
    best = _best_jaccard(norm, index, inv)
    return ("near_corpus" if best >= t else "new"), best


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out`; return the
    planted-property record (also written to out/planted.json)."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    for name, tbl in relational(rng, sz).items():
        _write(tbl, f"{out}/{name}.parquet")
    ev = events(rng, sz["events"], sz["users"], sz["user_zipf_a"])
    _write(ev, f"{out}/events.parquet")
    uid = ev.column("user_id").to_numpy()
    planted = {"workload": workload, "seed": seed, "sizes": sz,
               "hot_user_share": float(np.bincount(uid).max() / len(uid))}
    if workload == "warehouse_sql":
        texts = [_text(rng, k) for k in _spread(rng, 20, 99, sz["documents"])]
        planted["planted_docs"] = {"exact": 0, "near": 0, "boilerplate": 0}
    else:
        texts, planted["planted_docs"] = corpus(
            rng, sz["documents"], sz["exact_dup_frac"], sz["near_dup_frac"],
            sz["boilerplate_frac"])
    _write(doc_table(list(range(len(texts))), texts, rng),
           f"{out}/documents.parquet")
    if workload != "ingest_serve":
        _write(embeddings(rng, sz["embeddings"], rng.normal(0, 1, (10, 64))),
               f"{out}/embeddings.parquet")
    else:
        planted.update(ingest_inputs(rng, sz, texts, out))
    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)
    return planted


def backlog_dir(name, b):
    """Micro-batch file b of a backlog; file 0 goes to the warm-up dir."""
    return f"{name}_warmup/batch_000.parquet" if b == 0 else f"{name}/batch_{b:03d}.parquet"


def ingest_inputs(rng, sz, base_texts, out):
    """Document and event backlogs (one file per micro-batch), lookup
    batches and the exact expected verdicts."""
    # one more file of each backlog than doc_batches/event_batches: the
    # first is drained by the untimed warm-up (dir suffix _warmup)
    for d in ("stream_docs", "stream_docs_warmup", "stream_events", "stream_events_warmup"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    os.makedirs(f"{out}/lookup_docs", exist_ok=True)
    os.makedirs(f"{out}/lookup_vecs", exist_ok=True)
    next_id = 1_000_000
    batches, admitted_so_far = [], []
    long_base = [x for x in base_texts if len(x.split(" ")) >= REWRITE_MIN_WORDS]
    for b in range(sz["doc_batches"] + 1):
        docs = []
        for _ in range(sz["batch_exact_of_base"]):
            docs.append(base_texts[int(rng.integers(0, len(base_texts)))])
        for _ in range(sz["batch_rewrite_of_base"]):
            docs.append(_rewrite(rng, long_base[int(rng.integers(0, len(long_base)))]))
        if admitted_so_far:
            for _ in range(sz["batch_rewrite_of_earlier_batch"]):
                docs.append(_rewrite(rng, admitted_so_far[
                    int(rng.integers(0, len(admitted_so_far)))]))
        fresh = [_text(rng, k) for k in
                 _spread(rng, REWRITE_MIN_WORDS, 99, sz["docs_per_batch"] - len(docs))]
        admitted_so_far.extend(fresh)
        docs.extend(fresh)
        docs = [docs[i] for i in rng.permutation(len(docs))]
        ids = list(range(next_id, next_id + len(docs)))
        next_id += len(docs)
        batches.append(list(zip(ids, docs)))
        _write(doc_table(ids, docs, rng), f"{out}/{backlog_dir('stream_docs', b)}")
    admitted, dropped, margin, (index, inv) = near_verdicts(base_texts, batches)
    first, start = sz["events"], EPOCH_2024 + 31 * US_PER_DAY
    for b in range(sz["event_batches"] + 1):
        n = sz["events_per_batch"]
        _write(events(rng, n, sz["users"], sz["user_zipf_a"], first, start),
               f"{out}/{backlog_dir('stream_events', b)}")
        first, start = first + n, start + 31 * US_PER_DAY
    cent = rng.normal(0, 1, (sz["embedding_clusters"], sz["embedding_dim"]))
    emb = embeddings(rng, sz["embeddings"], cent)
    _write(emb, f"{out}/embeddings.parquet")
    # lookups: the same verdict mix in every batch, so seeds change the
    # content and not the work (a batch with a near match runs the
    # verify joins on rows, one without runs them empty): copies of
    # indexed docs (dup_corpus), one-word rewrites of long indexed docs
    # (near_corpus) and fresh docs (new); distinct texts within a batch
    indexed = sorted({t for t in base_texts + [t for b in batches for _, t in b]
                      if t.strip().lower() in index})
    long_indexed = [t for t in indexed if len(t.split(" ")) >= REWRITE_MIN_WORDS]
    expected = {}
    for b in range(sz["lookup_batches"]):
        n, n_near = sz["lookup_doc_batch"], sz["lookup_near_per_batch"]
        ids = list(range(2_000_000 + b * n, 2_000_000 + (b + 1) * n))
        copies = rng.choice(len(indexed), n // 2 - n_near, replace=False)
        near = rng.choice(len(long_indexed), n_near, replace=False)
        want = (["dup_corpus"] * len(copies) + ["near_corpus"] * n_near +
                ["new"] * (n - n // 2))
        texts = [indexed[i] for i in copies] + [
            _rewrite(rng, long_indexed[i]) for i in near] + [
            _text(rng, k) for k in _spread(rng, REWRITE_MIN_WORDS, 99, n - n // 2)]
        order = rng.permutation(n)
        texts, want = [texts[i] for i in order], [want[i] for i in order]
        for doc_id, text, w in zip(ids, texts, want):
            status, best = lookup_status(text, index, inv)
            assert status == w, f"lookup doc {doc_id} is {status}, planted as {w}"
            if status != "dup_corpus":
                margin = min(margin, abs(best - 0.7))
            expected[doc_id] = status
        _write(doc_table(ids, texts, rng), f"{out}/lookup_docs/batch_{b:03d}.parquet")
        q = embeddings(rng, sz["lookup_vec_batch"], cent,
                       3_000_000 + b * sz["lookup_vec_batch"])
        _write(q, f"{out}/lookup_vecs/batch_{b:03d}.parquet")
    # every verdict is far from the threshold, so LSH recall cannot flip it
    assert margin >= 0.15, f"planted Jaccard margin {margin} too small"
    truth = {"admitted": sorted(admitted), "dropped": sorted(dropped),
             "jaccard_margin": margin,
             "lookup_status": {str(k): v for k, v in sorted(expected.items())}}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {"stream_admitted": len(admitted), "stream_dropped": len(dropped),
            "jaccard_margin": round(margin, 4)}


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, seed, out), sort_keys=True))
