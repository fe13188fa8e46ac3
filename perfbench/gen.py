"""Seeded input generator for the benchmark.

Everything the program sees comes from here: the sf0.1-shaped tables of
the script workloads, their op stream (CozoScript text, one op per line),
and the curate_batch corpus with its planted truth. The same seed gives
byte-identical files; `digest` hashes them for the result stamp.
"""
import datetime as dt
import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
EPOCH_1992 = 694_224_000_000_000  # 1992-01-01T00:00:00Z in µs

STOPWORDS = ["the", "a", "of", "to", "and", "is", "in", "on", "for", "with"]
SYLLABLES = ["ka", "lo", "mi", "ren", "tus", "va", "qi", "dor", "pel", "sun",
             "zo", "bri", "nax", "ul", "fem", "gat", "hol", "jin", "wex", "yor"]

# Op schedules: each workload cycles through a fixed class sequence, and
# only the literals come from the seed, so every window of a run sees the
# same mix. In script_write the second probe of each back-to-back pair
# finds its index cache current; the first follows a write.
CYCLES = {
    "script_read": ["lookup", "hop1", "fts", "hnsw", "agg", "reach", "asof", "lookup", "hop2",
                    "fts", "hnsw", "asof", "pagerank", "cc", "sssp"],
    "script_write": ["put_order", "lookup", "hop1", "fts", "hnsw", "fts", "hnsw", "update_order",
                     "agg", "reach", "put_doc", "lookup", "asof", "rm_order", "hop2", "put_price",
                     "pagerank", "cc", "put_vec", "sssp"],
}
N_OPS = 1000  # far more than a run gets through
WRITES = {"put_order", "rm_order", "update_order", "put_doc", "put_vec", "put_price"}
EMB_DIM = 64


def vocabulary(n=3000):
    """A fixed synthetic lexicon, the same for every seed."""
    rng = np.random.default_rng(7)
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = vocabulary()
ZIPF_CDF = np.cumsum(1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05)
ZIPF_CDF /= ZIPF_CDF[-1]


def tokens(text):
    """The engine's tokenizer: lowercase, split on non-letters/digits."""
    return [t for t in re.split(r"[^0-9a-z]+", text.lower()) if t]


WORDS = np.array(VOCAB + STOPWORDS)


def words(rng, n):
    """n words: a quarter stopwords, the rest Zipf-distributed content."""
    idx = np.minimum(np.searchsorted(ZIPF_CDF, rng.random(n)), len(VOCAB) - 1)
    stop = rng.random(n) < 0.25
    idx[stop] = len(VOCAB) + rng.integers(0, len(STOPWORDS), int(stop.sum()))
    return WORDS[idx].tolist()


def ts_array(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us", tz="UTC"))


def write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- tables

def gen_tables(rng, out):
    """sf0.1-shaped relations; returns what the op stream needs to know of them."""
    n_cust, n_ord, n_ev, n_doc, n_emb, n_users = 15000, 150000, 100000, 5000, 2000, 1500
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500000, n_ord), 2),
        "o_orderdate": EPOCH_1992 + rng.integers(0, 2400, n_ord) * US_PER_DAY,
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }
    write(pa.table({**orders, "o_orderdate": ts_array(orders["o_orderdate"])}),
          f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(orders["o_orderkey"], lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(lk)) - starts + 1).astype(np.int32)
    n_li = len(lk)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, 20000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_array(EPOCH_1992 + rng.integers(0, 2500, n_li) * US_PER_DAY),
    }), f"{out}/lineitem.parquet")

    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_array(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    docs = {i: doc_text(rng) for i in range(n_doc)}
    write(doc_table(docs, rng), f"{out}/documents.parquet")

    centers = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0, 0.6, (n_emb, EMB_DIM))).astype(np.float32)
    emb = np.round(emb, 4)
    write(vec_table(np.arange(n_emb), emb, labels), f"{out}/embeddings.parquet")

    # validity-keyed price history: 1-5 versions per key, later versions
    # sometimes retract
    pk, pts, pas, pp = [], [], [], []
    for k in range(2000):
        nv = int(rng.integers(1, 6))
        stamps = np.sort(rng.choice(59 * US_PER_DAY, nv, replace=False)) + EPOCH_2024
        for j, t in enumerate(stamps):
            pk.append(k)
            pts.append(int(t))
            pas.append(bool(j == 0 or rng.random() > 0.15))
            pp.append(round(float(rng.uniform(1, 1000)), 2))
    write(pa.table({"k": np.array(pk, dtype=np.int64), "vld": ts_array(pts),
                    "is_assert": pa.array(pas), "p": np.array(pp)}),
          f"{out}/prices.parquet")
    return {"n_ord": n_ord, "n_users": n_users, "emb_centers": centers,
            "prices": {(k, t) for k, t in zip(pk, pts)}, "n_emb": n_emb, "n_doc": n_doc}


def doc_text(rng):
    """4-7 sentences of 6-13 words each."""
    lens = rng.integers(6, 14, int(rng.integers(4, 8)))
    ws = words(rng, int(lens.sum()))
    ends = set(np.cumsum(lens) - 1)
    return " ".join(w + "." if i in ends else w for i, w in enumerate(ws))


def doc_table(docs, rng):
    ids = sorted(docs)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": [docs[i] for i in ids],
        "lang": langs[rng.integers(0, 5, len(ids))],
        "source": [f"src{s}" for s in rng.integers(0, 20, len(ids))],
        "n_chars": np.array([len(docs[i]) for i in ids], dtype=np.int64),
    })


def vec_table(ids, emb, labels):
    return pa.table({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": np.asarray(labels, dtype=np.int32),
    })


# ---------------------------------------------------------------- op stream

def fmt_vec(v):
    return "[" + ", ".join(f"{x:.4f}" for x in v) + "]"


def q(s):
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def date_lit(us):
    return dt.datetime.fromtimestamp(us // 1_000_000, dt.timezone.utc).strftime("%Y-%m-%d")


class OpStream:
    def __init__(self, rng, shape, cycle):
        self.rng, self.s, self.cycle = rng, shape, cycle
        self.orders = set(range(shape["n_ord"]))
        self.next_order = shape["n_ord"]
        self.docs = set(range(shape["n_doc"]))
        self.next_doc = shape["n_doc"]
        self.vecs = set(range(shape["n_emb"]))
        self.next_vec = shape["n_emb"]
        self.price_stamps = set(shape["prices"])
        self.recent_orders = []

    def ops(self, n):
        out = []
        for i in range(n):
            cls = self.cycle[i % len(self.cycle)]
            script, args = getattr(self, cls)()
            out.append({"id": i, "cls": cls, "kind": "write" if cls in WRITES else "read",
                        "script": script, "args": args})
        return out

    def user(self):
        return int(self.rng.integers(0, self.s["n_users"]))

    def _live(self, live, hi):
        while True:
            k = int(self.rng.integers(0, hi))
            if k in live:
                return k

    # reads ---------------------------------------------------------------
    def lookup(self):
        if self.recent_orders and self.rng.random() < 0.5:
            k = int(self.recent_orders[int(self.rng.integers(0, len(self.recent_orders)))])
        else:
            k = int(self.rng.integers(0, self.next_order))
        return (f"?[c, name, seg, st, p] := *orders{{o_orderkey: {k}, o_custkey: c, "
                f"o_orderstatus: st, o_totalprice: p}}, "
                f"*customer{{c_custkey: c, c_name: name, c_mktsegment: seg}}", {"k": k})

    def hop1(self):
        u = self.user()
        return f"?[t] := *edges{{src: {u}, dst: t}}", {"u": u}

    def hop2(self):
        u = self.user()
        return (f"l1[t] := *edges{{src: {u}, dst: t}}\n"
                f"?[t] := l1[f], *edges{{src: f, dst: t}}", {"u": u})

    def reach(self):
        a, b = self.user(), self.user()
        d = int(self.rng.integers(2, 4))
        return (f"seed[s] <- [[{a}], [{b}]]\n"
                f"r[s, n, dd] := seed[s], n = s, dd = 0\n"
                f"r[s, n, dd] := r[s, m, d0], d0 < {d}, *edges{{src: m, dst: n}}, dd = d0 + 1\n"
                f"?[start, node] := r[start, node, dd]", {"seeds": [a, b], "depth": d})

    def agg(self):
        lo = int(self.rng.integers(0, self.s["n_ord"] - 3000))
        hi = lo + int(self.rng.integers(500, 3000))
        return (f"?[f, sum(q), count(ln)] := *lineitem{{l_orderkey: k, l_linenumber: ln, "
                f"l_returnflag: f, l_quantity: q}}, k >= {lo}, k < {hi}", {"lo": lo, "hi": hi})

    def asof(self):
        t = EPOCH_2024 + int(self.rng.integers(0, 75 * US_PER_DAY))
        lo = int(self.rng.integers(0, 1960))
        return (f"?[k, p] := *prices{{k, p @ {t}}}, k >= {lo}, k < {lo + 40}",
                {"t": t, "lo": lo, "hi": lo + 40})

    def fts(self):
        n = int(self.rng.integers(1, 3))
        terms = [VOCAB[int(r)] for r in self.rng.integers(40, 1200, n)]
        text = " OR ".join(terms)
        return (f"?[doc_id, s] := ~documents:fts{{doc_id | query: {q(text)}, k: 10, "
                f"bind_score: s}}", {"terms": terms, "k": 10})

    def hnsw(self):
        c = self.s["emb_centers"][int(self.rng.integers(0, 10))]
        v = np.round(c + self.rng.normal(0, 0.6, EMB_DIM), 4)
        return (f"?[vec_id, d] := ~embeddings:hnsw{{vec_id | query: vec({fmt_vec(v)}), "
                f"k: 10, ef: 64, bind_distance: d}}", {"q": [float(x) for x in v], "k": 10})

    def pagerank(self):
        theta = round(float(self.rng.uniform(0.75, 0.9)), 3)
        lo = self.user()
        return (f"pr[n, r] <~ PageRank(*edges[], theta: {theta}, iterations: 10)\n"
                f"?[n, r] := pr[n, r], n >= {lo}, n < {lo + 100}",
                {"theta": theta, "lo": lo, "hi": lo + 100})

    def cc(self):
        u = self.user()
        return (f"cc[n, c] <~ ConnectedComponents(*edges[])\n"
                f"?[n] := cc[{u}, c], cc[n, c]", {"u": u})

    def sssp(self):
        u = self.user()
        return (f"s[u] <- [[{u}]]\n"
                f"?[start, node, cost] <~ ShortestPathDijkstra(*edges[], s[])", {"u": u})

    # writes --------------------------------------------------------------
    def _order_row(self, k):
        r = self.rng
        return {"k": k, "c": int(r.integers(0, 15000)),
                "st": ["O", "F", "P"][int(r.integers(0, 3))],
                "p": round(float(r.uniform(900, 500000)), 2),
                "d": date_lit(EPOCH_1992 + int(r.integers(0, 2400)) * US_PER_DAY),
                "prio": ["1-URGENT", "2-HIGH", "3-MEDIUM"][int(r.integers(0, 3))]}

    def _touch(self, k):
        self.recent_orders = (self.recent_orders + [k])[-20:]

    def put_order(self):
        if self.rng.random() < 0.5:
            k = self.next_order
            self.next_order += 1
        else:
            k = self._live(self.orders, self.next_order)
        a = self._order_row(k)
        self.orders.add(k)
        self._touch(k)
        return (f"?[o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                f"o_orderpriority] <- [[{k}, {a['c']}, {q(a['st'])}, {a['p']}, "
                f"{q(a['d'])}, {q(a['prio'])}]]\n"
                f":put orders {{o_orderkey => o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderdate, o_orderpriority}}", a)

    def rm_order(self):
        k = self._live(self.orders, self.next_order)
        self.orders.discard(k)
        self._touch(k)
        return f"?[o_orderkey] <- [[{k}]]\n:rm orders {{o_orderkey}}", {"k": k}

    def update_order(self):
        k = self._live(self.orders, self.next_order)
        p = round(float(self.rng.uniform(900, 500000)), 2)
        self._touch(k)
        return (f"?[o_orderkey, o_totalprice] <- [[{k}, {p}]]\n"
                f":update orders {{o_orderkey => o_totalprice}}", {"k": k, "p": p})

    def put_doc(self):
        if self.rng.random() < 0.5:
            d = self.next_doc
            self.next_doc += 1
        else:
            d = self._live(self.docs, self.next_doc)
        self.docs.add(d)
        text = doc_text(self.rng)
        lang = ["en", "de", "fr"][int(self.rng.integers(0, 3))]
        src = f"src{int(self.rng.integers(0, 20))}"
        return (f"?[doc_id, text, lang, source, n_chars] <- "
                f"[[{d}, {q(text)}, {q(lang)}, {q(src)}, {len(text)}]]\n"
                f":put documents {{doc_id => text, lang, source, n_chars}}",
                {"id": d, "text": text, "lang": lang, "source": src})

    def put_vec(self):
        if self.rng.random() < 0.5:
            v_id = self.next_vec
            self.next_vec += 1
        else:
            v_id = self._live(self.vecs, self.next_vec)
        self.vecs.add(v_id)
        lab = int(self.rng.integers(0, 10))
        v = np.round(self.s["emb_centers"][lab] + self.rng.normal(0, 0.6, EMB_DIM), 4)
        return (f"?[vec_id, embedding, label] <- [[{v_id}, vec({fmt_vec(v)}), {lab}]]\n"
                f":put embeddings {{vec_id => embedding, label}}",
                {"id": v_id, "vec": [float(x) for x in v], "label": lab})

    def put_price(self):
        k = int(self.rng.integers(0, 2000))
        while True:
            t = EPOCH_2024 + int(self.rng.integers(30 * US_PER_DAY, 75 * US_PER_DAY))
            if (k, t) not in self.price_stamps:
                break
        self.price_stamps.add((k, t))
        assert_ = bool(self.rng.random() > 0.2)
        p = round(float(self.rng.uniform(1, 1000)), 2)
        return (f"?[k, vld, p] <- [[{k}, [{t}, {str(assert_).lower()}], {p}]]\n"
                f":put prices {{k, vld => p}}", {"k": k, "t": t, "assert": assert_, "p": p})


# ---------------------------------------------------------------- curate corpus

CURATE_BASE = 14000


def gen_curate(rng, out):
    """Corpus with planted exact duplicates, near-duplicates at known edit
    rates, low-quality documents, benchmark contamination and embedding
    near-duplicates; the truth lands in truth.json."""
    texts, vecs = [], []
    centers = rng.normal(0, 1, (32, EMB_DIM))

    def add(text, vec):
        texts.append(text)
        vecs.append(vec)
        return len(texts) - 1

    def fresh_vec():
        v = centers[int(rng.integers(0, 32))] + rng.normal(0, 0.8, EMB_DIM)
        return v / np.linalg.norm(v)

    base = [add(doc_text(rng) + " " + doc_text(rng), fresh_vec()) for _ in range(CURATE_BASE)]
    evals = [doc_text(rng) for _ in range(200)]
    pool = list(base)
    rng.shuffle(pool)
    take = iter(pool)

    exact = []  # (original, copy)
    for _ in range(600):
        o = next(take)
        exact.append((o, add(texts[o], vecs[o])))
    near = []  # (original, near copy, edit rate)
    for rate in (0.02, 0.04, 0.06):
        for _ in range(250):
            o = next(take)
            ws = texts[o].split(" ")
            idx = rng.choice(len(ws), max(1, int(round(rate * len(ws)))), replace=False)
            for j in idx:
                ws[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            v = vecs[o] + rng.normal(0, 0.02, EMB_DIM)
            near.append((o, add(" ".join(ws), v / np.linalg.norm(v)), rate))
    semantic = []  # (original, paraphrase with a near-identical embedding)
    for _ in range(300):
        o = next(take)
        v = vecs[o] + rng.normal(0, 0.01, EMB_DIM)
        semantic.append((o, add(doc_text(rng) + " " + doc_text(rng), v / np.linalg.norm(v))))
    contaminated = []
    for _ in range(300):
        o = next(take)
        e = evals[int(rng.integers(0, len(evals)))].split(" ")
        span = e[:int(rng.integers(14, 20))]
        ws = texts[o].split(" ")
        cut = int(rng.integers(0, len(ws)))
        texts[o] = " ".join(ws[:cut] + span + ws[cut:])
        contaminated.append(o)
    low = []
    for _ in range(800):
        kind = rng.random()
        if kind < 0.5:
            t = " ".join(VOCAB[int(r)] for r in rng.integers(0, 200, int(rng.integers(2, 6))))
        else:
            t = " ".join("#!?" + VOCAB[int(r)] + "..." for r in rng.integers(0, 200, 30))
        low.append(add(t, fresh_vec()))

    n = len(texts)
    perm = rng.permutation(n)  # ids shuffled so planted docs are spread
    ident = {old: int(new) for old, new in zip(range(n), perm)}
    text_by_id = {ident[i]: texts[i] for i in range(n)}
    ids = np.arange(n, dtype=np.int64)
    write(pa.table({
        "id": ids,
        "text": [text_by_id[i] for i in range(n)],
        "vec": pa.array([np.asarray(vecs[j], dtype=np.float32) for j in np.argsort(perm)],
                        type=pa.list_(pa.float32())),
    }), f"{out}/corpus.parquet")
    write(pa.table({"eval_id": np.arange(len(evals), dtype=np.int64), "text": evals}),
          f"{out}/eval.parquet")
    truth = {
        "n_docs": n,
        "exact": [[ident[a], ident[b]] for a, b in exact],
        "near": [[ident[a], ident[b], r] for a, b, r in near],
        "semantic": [[ident[a], ident[b]] for a, b in semantic],
        "contaminated": sorted(ident[o] for o in contaminated),
        "low_quality": sorted(ident[o] for o in low),
    }
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)


# ---------------------------------------------------------------- entry

def generate(workload, seed, out):
    """Write the inputs of one (workload, seed) into `out`; returns digest."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, {"script_read": 1, "script_write": 2,
                                        "curate_batch": 3}[workload]])
    if workload == "curate_batch":
        gen_curate(rng, out)
    else:
        shape = gen_tables(rng, out)
        ops = OpStream(rng, shape, CYCLES[workload])
        # the untimed warm-up runs one cycle with its own literals
        warm = ops.ops(len(CYCLES[workload]))
        for o in warm:
            o["id"] = -1 - o["id"]
        with open(f"{out}/ops.jsonl", "w") as f:
            for o in warm + ops.ops(N_OPS):
                f.write(json.dumps(o) + "\n")
    return digest(out)


def digest(out):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
