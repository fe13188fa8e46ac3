"""Output checks: every op's result is compared with an independent answer.

- relational, recursive and time-travel reads: DuckDB recomputation over
  the relations as they stand when the op runs (writes are replayed in
  op order, so reads after a write must see it);
- HNSW probes: brute-force cosine top-k (recall is measured, distances
  must be exact);
- FTS probes and graph fixed rules: invariants (FTS) and exact answers
  where one is cheap (components, hop distances);
- curate_batch: the planted truth of the corpus, with exact answers for
  the quality filter, exact dedup, decontamination and packing.

Each check returns an error string, or None when the output is right.
"""
import json
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import tokens

EDGES_SQL = """
CREATE OR REPLACE TABLE edges AS
SELECT DISTINCT user_id AS src, next_user AS dst FROM (
  SELECT user_id, lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_user
  FROM read_parquet('{d}/events.parquet')) t
WHERE next_user IS NOT NULL AND next_user <> user_id
"""


def canon(rows, digits=6):
    out = []
    for r in rows:
        out.append(tuple(round(x, digits) if isinstance(x, float) else x for x in r))
    return sorted(out, key=repr)


def same(got, want):
    g, w = canon(got), canon(want)
    if g == w:
        return None
    return f"rows differ: got {len(g)} {g[:3]}..., want {len(w)} {w[:3]}..."


class ScriptState:
    """The relations of a script workload, replayed op by op."""

    def __init__(self, inputs):
        self.d = inputs
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone = 'UTC'")  # dates render as the harness's UTC session does
        self.db.execute(EDGES_SQL.format(d=inputs))
        src = self.db.execute("SELECT src, dst FROM edges").fetchnumpy()
        self.adj = defaultdict(set)
        for a, b in zip(src["src"], src["dst"]):
            self.adj[int(a)].add(int(b))
        self.reset()

    def reset(self):
        d, db = self.d, self.db
        db.execute(f"""CREATE OR REPLACE TABLE orders AS SELECT o_orderkey, o_custkey,
            o_orderstatus, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
            o_orderpriority FROM read_parquet('{d}/orders.parquet')""")
        db.execute(f"CREATE OR REPLACE TABLE customer AS SELECT * FROM read_parquet('{d}/customer.parquet')")
        db.execute(f"CREATE OR REPLACE TABLE lineitem AS SELECT l_orderkey, l_linenumber, "
                   f"l_returnflag, l_quantity FROM read_parquet('{d}/lineitem.parquet')")
        db.execute(f"CREATE OR REPLACE TABLE prices AS SELECT k, epoch_us(vld) AS vld, is_assert, p "
                   f"FROM read_parquet('{d}/prices.parquet')")
        docs = pq.read_table(f"{d}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
        self.doc_terms = {i: set(tokens(t)) for i, t in zip(docs["doc_id"], docs["text"])}
        emb = pq.read_table(f"{d}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pydict()
        self.vecs = {i: np.asarray(v, dtype=np.float32) for i, v in zip(emb["vec_id"], emb["embedding"])}

    def q(self, sql, *params):
        return self.db.execute(sql, list(params)).fetchall()

    # reads ---------------------------------------------------------------
    def lookup(self, a, rows):
        return same(rows, self.q(
            "SELECT o.o_custkey, c.c_name, c.c_mktsegment, o.o_orderstatus, o.o_totalprice "
            "FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey WHERE o.o_orderkey = ?",
            a["k"]))

    def hop1(self, a, rows):
        return same(rows, self.q("SELECT DISTINCT dst FROM edges WHERE src = ?", a["u"]))

    def hop2(self, a, rows):
        return same(rows, self.q(
            "SELECT DISTINCT e2.dst FROM edges e1 JOIN edges e2 ON e2.src = e1.dst "
            "WHERE e1.src = ?", a["u"]))

    def reach(self, a, rows):
        seeds = ", ".join(f"({s})" for s in a["seeds"])
        return same(rows, self.q(f"""
            WITH RECURSIVE r(s, n, d) AS (
              SELECT s, s, 0 FROM (VALUES {seeds}) v(s)
              UNION
              SELECT r.s, e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.n WHERE r.d < {a['depth']})
            SELECT DISTINCT s, n FROM r"""))

    def agg(self, a, rows):
        return same(rows, self.q(
            "SELECT l_returnflag, sum(l_quantity), count(*) FROM lineitem "
            "WHERE l_orderkey >= ? AND l_orderkey < ? GROUP BY 1", a["lo"], a["hi"]))

    def asof(self, a, rows):
        return same(rows, self.q("""
            SELECT k, p FROM (
              SELECT k, p, is_assert, row_number() OVER (
                PARTITION BY k ORDER BY vld DESC, is_assert DESC) AS rn
              FROM prices WHERE vld <= ? AND k >= ? AND k < ?) t
            WHERE rn = 1 AND is_assert""", a["t"], a["lo"], a["hi"]))

    def fts(self, a, rows):
        terms = set(a["terms"])
        match = {d for d, ts in self.doc_terms.items() if ts & terms}
        ids = [r[0] for r in rows]
        if len(set(ids)) != len(ids):
            return "duplicate hits"
        if len(ids) != min(a["k"], len(match)):
            return f"{len(ids)} hits, want {min(a['k'], len(match))} of {len(match)} matching docs"
        if not set(ids) <= match:
            return f"hits without a query term: {sorted(set(ids) - match)[:5]}"
        if any(not (r[1] > 0) for r in rows):
            return "non-positive score"
        return None

    def hnsw(self, a, rows, out):
        qv = np.asarray(a["q"], dtype=np.float32)
        ids = np.array(list(self.vecs))
        m = np.stack([self.vecs[i] for i in ids])
        dist = 1.0 - (m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
        true = {int(i) for i in ids[np.argsort(dist, kind="stable")[:a["k"]]]}
        by_id = dict(zip(ids.tolist(), dist.tolist()))
        got = [int(r[0]) for r in rows]
        if len(got) != min(a["k"], len(ids)) or len(set(got)) != len(got):
            return f"{len(got)} hits, want {a['k']}"
        for r in rows:
            if int(r[0]) not in by_id or abs(by_id[int(r[0])] - r[1]) > 1e-3:
                return f"distance of {r[0]} is {r[1]}, brute force {by_id.get(int(r[0]))}"
        out["recall"] = len(true & set(got)) / len(true)
        return None

    def pagerank(self, a, rows):
        want = {n for n, _ in self.q(
            "SELECT src, 0 FROM edges UNION SELECT dst, 0 FROM edges")}
        want = {n for n in want if a["lo"] <= n < a["hi"]}
        got = [r[0] for r in rows]
        if sorted(got) != sorted(want):
            return f"pagerank nodes: got {len(got)}, want {len(want)}"
        if any(not (0 < r[1] < 1) for r in rows):
            return "rank outside (0, 1)"
        return None

    def cc(self, a, rows):
        if not hasattr(self, "component"):  # edges never change
            nodes = set(self.adj) | {t for ds in self.adj.values() for t in ds}
            self.component = clusters(nodes, [(s, t) for s, ds in self.adj.items() for t in ds])
        c = self.component.get(a["u"])
        return same(rows, [(n,) for n, cn in self.component.items() if c is not None and cn == c])

    def sssp(self, a, rows):
        u, dist, frontier = a["u"], {a["u"]: 0}, [a["u"]]
        while frontier:
            nxt = []
            for x in frontier:
                for y in self.adj.get(x, ()):
                    if y not in dist:
                        dist[y] = dist[x] + 1
                        nxt.append(y)
            frontier = nxt
        got = [(r[1], float(r[2])) for r in rows if r[1] != u]
        if any(r[0] != u for r in rows):
            return "row from another start"
        return same(got, [(n, float(c)) for n, c in dist.items() if n != u])

    # writes --------------------------------------------------------------
    def put_order(self, a):
        self.db.execute("DELETE FROM orders WHERE o_orderkey = ?", [a["k"]])
        self.db.execute("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
                        [a["k"], a["c"], a["st"], a["p"], a["d"], a["prio"]])

    def rm_order(self, a):
        self.db.execute("DELETE FROM orders WHERE o_orderkey = ?", [a["k"]])

    def update_order(self, a):
        self.db.execute("UPDATE orders SET o_totalprice = ? WHERE o_orderkey = ?", [a["p"], a["k"]])

    def put_doc(self, a):
        self.doc_terms[a["id"]] = set(tokens(a["text"]))

    def put_vec(self, a):
        self.vecs[a["id"]] = np.asarray(a["vec"], dtype=np.float32)

    def put_price(self, a):
        self.db.execute("DELETE FROM prices WHERE k = ? AND vld = ? AND is_assert = ?",
                        [a["k"], a["t"], a["assert"]])
        self.db.execute("INSERT INTO prices VALUES (?, ?, ?, ?)", [a["k"], a["t"], a["assert"], a["p"]])


def check_script(inputs, records):
    """Annotates every op record with `check_error` (None when right),
    `recall` for HNSW probes and `after_write` for index probes."""
    args = {}
    with open(f"{inputs}/ops.jsonl") as f:
        for line in f:
            o = json.loads(line)
            args[o["id"]] = o["args"]
    state = ScriptState(inputs)
    fresh = True
    last_probe_epoch, epoch = {}, 0
    for r in records:
        if r["type"] == "setup" and r["step"].startswith("load"):
            if not fresh:
                state.reset()
            fresh, last_probe_epoch, epoch = True, {}, 0
        if r["type"] != "op":
            continue
        a, cls = args[r["id"]], r["cls"]
        if r["kind"] == "write":
            fresh = False
            epoch += 1
            r["check_error"] = None
            if r["ok"]:
                getattr(state, cls)(a)
            continue
        if cls in ("fts", "hnsw"):  # one index each
            r["after_write"] = last_probe_epoch.get(cls, 0) != epoch
            last_probe_epoch[cls] = epoch
        if not r["ok"]:
            r["check_error"] = None
            continue
        try:
            if cls == "hnsw":
                r["check_error"] = state.hnsw(a, r["rows"], r)
            else:
                r["check_error"] = getattr(state, cls)(a, r["rows"])
        except Exception as e:  # a malformed result is a failed check
            r["check_error"] = f"check raised {type(e).__name__}: {e}"


# ---------------------------------------------------------------- curate

def shingles(text, n):
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def clusters(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


class Corpus:
    def __init__(self, inputs):
        t = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
        self.text = dict(zip(t["id"], t["text"]))
        self.vec = {i: np.asarray(v, dtype=np.float64) for i, v in zip(t["id"], t["vec"])}
        with open(f"{inputs}/truth.json") as f:
            self.truth = json.load(f)
        ev = pq.read_table(f"{inputs}/eval.parquet").to_pydict()
        self.eval_grams = set().union(*(shingles(x, 13) for x in ev["text"]))


# a verified near-dup pair must share at least this share of shingles
# (the LSH estimate may read the true Jaccard a little high)
JACCARD_FLOOR = 0.3


def check_chain(c, out, cfg):
    """Checks one chain run against the corpus; fills dup_recall and
    semdedup_recall into `out`."""
    truth = c.truth
    docs = set(c.text)
    low = set(truth["low_quality"])
    s1, s2, s3 = set(out["quality"]), set(out["exact"]), set(out["minhash"])
    s5 = set(out["semdedup"])
    if s1 != docs - low:
        return f"quality filter: {len(s1 ^ (docs - low))} docs differ from the planted truth"
    groups = defaultdict(list)
    for i in s1:
        groups[c.text[i]].append(i)
    if s2 != {min(g) for g in groups.values()}:
        return "exact dedup keeps the wrong documents"
    verified = [tuple(p) for p in out["verified"]]
    for a, b in verified:
        if a not in s2 or b not in s2:
            return f"near-dup pair ({a}, {b}) outside the stage input"
        sa, sb = shingles(c.text[a], 3), shingles(c.text[b], 3)
        if len(sa & sb) / max(1, len(sa | sb)) < JACCARD_FLOOR:
            return f"near-dup pair ({a}, {b}) is not similar"
    cl = clusters(s2, verified)
    if s3 != {i for i in s2 if cl[i] == i}:
        return "near-dup resolution keeps the wrong documents"
    planted = [(a, b) for a, b, _ in truth["near"] if a in s2 and b in s2]
    out["dup_recall"] = (sum(cl[a] == cl[b] for a, b in planted) / len(planted)) if planted else None
    flagged = {i for i in s3 if shingles(c.text[i], 13) & c.eval_grams}
    if set(out["flagged"]) != flagged:
        return (f"decontamination flagged {len(out['flagged'])} docs, exact answer "
                f"{len(flagged)}")
    s4 = s3 - flagged
    pairs = [tuple(p) for p in out["semdedup_pairs"]]
    for a, b in pairs:
        va, vb = c.vec[a], c.vec[b]
        if va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) < cfg["cosine_min"] - 1e-6:
            return f"semantic pair ({a}, {b}) below the cosine threshold"
    cl2 = clusters(s4, pairs)
    if s5 != {i for i in s4 if cl2[i] == i}:
        return "semantic dedup keeps the wrong documents"
    sem = [(a, b) for a, b in truth["semantic"] if a in s4 and b in s4]
    out["semdedup_recall"] = (sum(cl2[a] == cl2[b] for a, b in sem) / len(sem)) if sem else None
    packed = sorted(out["pack"])
    if [p[0] for p in packed] != sorted(s5):
        return "packing lost or duplicated documents"
    before = 0
    for i, w, shard in packed:
        if w != len(c.text[i].split(" ")) or shard != before // cfg["budget"]:
            return f"doc {i} packed into shard {shard}, want {before // cfg['budget']}"
        before += w
    return None


def check_curate(inputs, records):
    c = Corpus(inputs)
    cfg = next(r for r in records if r["type"] == "curate_config")
    for r in records:
        if r["type"] == "op":
            r["check_error"] = None
            if r["ok"]:
                try:
                    r["check_error"] = check_chain(c, r["outputs"], cfg)
                except Exception as e:
                    r["check_error"] = f"check raised {type(e).__name__}: {e}"
