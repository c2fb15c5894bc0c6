"""Seeded input generator for the Lambda-layer benchmark.

`generate(workload, seed, out)` writes the workload's inputs as parquet in
the test-data schemas (events, documents, embeddings) plus the ground truth
the benchmark checks answers against, as tab-separated text. The same seed
gives byte-identical files; another seed gives other files. Everything is
derived from one numpy PCG64 stream per (workload, seed).

Sizes keep one run of either workload near a minute on a 4-core host;
README.md lists them.
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("batch_recompute", "speed_fold")

# batch_recompute: rounds cycle through the fact batches; every round
# also recomputes the one generated corpus.
BR_ROUNDS = 2
BR_EVENTS = 8000           # distinct events per round
BR_DUP_SHARE = 0.05        # re-delivered duplicates on top of those
BR_USERS = 3000
BR_HOT_USERS = 60          # users sharing the one hot cookie
BR_DOMAINS = ("shop", "news", "blog", "wiki", "mail", "maps", "play",
              "docs", "chat", "video", "music", "photo")
BR_HOURS = 24
BR_EPOCH = 1_700_000_000 - 1_700_000_000 % 86400
SESSION_GAP = 900

# speed_fold stores
UP_KEYS = 10000
UP_BATCH = 1000
LB_NODES = 10000
LB_HOT = 2000
LB_BATCH = 1000
LEX_DOCS = 1500
LEX_BATCH = 250
VOCAB = 2000
VEC_N = 2000
VEC_BATCH = 250
VEC_DIM = 64
VEC_CLUSTERS = 32
SF_BATCHES = 4             # per store

# batch_recompute corpus
CB_DOCS = 800
CB_QUALITY_DIM = 4096
CB_QUALITY_INTERCEPT = 3.0   # with small weights every document passes
CB_DUP_SHARE = 0.30
CB_BOILER_SHARE = 0.25
BOILERPLATE = ("subscribe to our newsletter for the latest updates "
               "and offers from our partners").split()


def _rng(workload, seed):
    return np.random.Generator(np.random.PCG64(
        [int(seed) & 0xFFFFFFFF, WORKLOADS.index(workload)]))


_ZIPF_CDF = {}


def _zipf(rng, n, size, s=1.1):
    """`size` ranks in [0, n) with P(r) proportional to 1 / (r + 1)^s."""
    cdf = _ZIPF_CDF.get(s)
    if cdf is None or len(cdf) < n:
        cdf = np.cumsum(1.0 / np.arange(1, max(n, 1 << 16) + 1) ** s)
        _ZIPF_CDF[s] = cdf
    u = rng.random(size) * cdf[n - 1]
    return np.minimum(np.searchsorted(cdf, u, side="right"), n - 1)


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


def _tsv(path, header, rows):
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


class _UnionFind:
    """Union-find whose root is the component's minimum key."""

    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def _words(rng, n_docs, lo, hi):
    lens = rng.integers(lo, hi, size=n_docs)
    flat = _zipf(rng, VOCAB, int(lens.sum()), s=1.05)
    out, pos = [], 0
    for ln in lens:
        out.append(["w%d" % w for w in flat[pos:pos + ln]])
        pos += ln
    return out


# ---------------------------------------------------------------- batch

def _user_key(u):
    return "2:%019d" % u


def _gen_batch_recompute(rng, out):
    _gen_corpus(rng, out)
    for r in range(BR_ROUNDS):
        d = os.path.join(out, "round_%d" % r)
        os.makedirs(d)
        n = BR_EVENTS
        event_id = np.arange(n, dtype=np.int64) + r * 10_000_000
        user = _zipf(rng, BR_USERS, n).astype(np.int64)
        dom = _zipf(rng, len(BR_DOMAINS), n, s=0.9)
        secs = BR_EPOCH + rng.integers(0, BR_HOURS * 3600, size=n)
        micros = rng.integers(0, 1_000_000, size=n)
        value = np.round(rng.random(n) * 100, 2)
        dup = rng.choice(n, size=int(n * BR_DUP_SHARE), replace=False)
        rows = np.concatenate([np.arange(n), dup])
        rows = rows[rng.permutation(len(rows))]
        events = pa.table({
            "event_id": pa.array(event_id[rows]),
            "ts": pa.array(secs[rows] * 1_000_000 + micros[rows],
                           type=pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user[rows]),
            "event_type": pa.array([BR_DOMAINS[i] for i in dom[rows]]),
            "value": pa.array(value[rows]),
            "props": pa.array(["{}"] * len(rows)),
        })
        _write(events, os.path.join(d, "events.parquet"))

        # cookie <-> user equiv edges over every user: one hot cookie, a
        # cookie per group of four users, and user-user links chaining
        # groups in threes. The shape is the same for every seed, so the
        # connected-components work (its rounds grow with the diameter)
        # is too.
        uf = _UnionFind()
        e_user, e_cookie, e_other = [], [], []
        for u in range(BR_USERS):
            ck = "hot" if u < BR_HOT_USERS else "c%05d" % (u // 4)
            e_user.append(u)
            e_cookie.append(ck)
            e_other.append(None)
            uf.union(_user_key(u), "1:" + ck)
            if u >= BR_HOT_USERS and u % 4 == 0 and (u // 4) % 3 != 2 \
                    and u + 4 < BR_USERS:
                e_user.append(u)
                e_cookie.append(None)
                e_other.append(u + 4)
                uf.union(_user_key(u), _user_key(u + 4))
        _write(pa.table({
            "user_id": pa.array(e_user, type=pa.int64()),
            "cookie": pa.array(e_cookie, type=pa.string()),
            "other_user": pa.array(e_other, type=pa.int64()),
        }), os.path.join(d, "equiv.parquet"))
        nodes = set(uf.parent)
        components = len({uf.find(x) for x in nodes})

        # views over the distinct events, persons rewritten to labels
        person = np.array([uf.find(_user_key(u)) for u in user.tolist()])
        url = np.array(["https://%s.example.com/u/%d/item"
                        % (BR_DOMAINS[dm], u % 20)
                        for dm, u in zip(dom.tolist(), user.tolist())])
        hbv = secs // 3600
        pv = {}
        for i in range(n):
            key = (url[i], int(hbv[i]))
            c = pv.setdefault(key, [0, set()])
            c[0] += 1
            c[1].add(person[i])
        _tsv(os.path.join(d, "truth_pageviews.tsv"),
             ("url", "hbv", "pageviews", "uniques"),
             sorted((k[0], k[1], v[0], len(v[1])) for k, v in pv.items()))

        domain = np.array(["%s.example.com" % BR_DOMAINS[dm] for dm in dom])
        order = np.lexsort((event_id, secs, person, domain))
        visits, bounces = {}, {}
        i = 0
        while i < n:
            j = i
            dm, pe = domain[order[i]], person[order[i]]
            while (j + 1 < n and domain[order[j + 1]] == dm
                   and person[order[j + 1]] == pe
                   and secs[order[j + 1]] - secs[order[j]] <= SESSION_GAP):
                j += 1
            visits[dm] = visits.get(dm, 0) + 1
            bounces[dm] = bounces.get(dm, 0) + (1 if j == i else 0)
            i = j + 1
        _tsv(os.path.join(d, "truth_bounce.tsv"),
             ("domain", "visits", "bounces"),
             sorted((dm, visits[dm], bounces[dm]) for dm in visits))
        _tsv(os.path.join(d, "truth_meta.tsv"), ("facts", "components"),
             [(len(rows) + len(e_user), components)])


# --------------------------------------------------------------- stores

def _vectors(rng, centers, n):
    # spread within a cluster as wide as between clusters: every vector's
    # nearest neighbour is itself by a wide margin, so an exact-copy probe
    # must come back from an approximate index
    c = rng.integers(0, len(centers), size=n)
    v = centers[c] + rng.normal(0, 1.0, size=(n, VEC_DIM))
    return v.astype(np.float32)


def _vec_table(ids, vecs, batch=None):
    cols = {}
    if batch is not None:
        cols["batch"] = pa.array(batch, type=pa.int32())
    cols["vec_id"] = pa.array(ids, type=pa.int64())
    cols["embedding"] = pa.array(list(vecs), type=pa.list_(pa.float32()))
    return pa.table(cols)


def _unique_token(doc_id):
    return "u%dz" % doc_id


def _doc_text(words, doc_id):
    w = list(words)
    w.insert(len(w) // 2, _unique_token(doc_id))
    return " ".join(w)


class _Stores:
    """Bootstrap state plus a generator of per-store micro-batches, with
    the truth simulated alongside so every read has an expected answer."""

    def __init__(self, rng, out):
        self.rng, self.out = rng, out
        self.up = {k: int(v) for k, v in enumerate(
            rng.integers(0, 1 << 40, size=UP_KEYS).tolist())}
        _write(pa.table({
            "k": pa.array(np.arange(UP_KEYS), type=pa.int64()),
            "v": pa.array([self.up[k] for k in range(UP_KEYS)],
                          type=pa.int64()),
        }), os.path.join(out, "upsert_base.parquet"))

        self.uf = _UnionFind()
        src, dst = [], []
        for i in range(1, LB_NODES):
            j = int(rng.integers(0, i)) if i < LB_HOT else i - i % 5
            if j != i:
                src.append(i)
                dst.append(j)
                self.uf.union(i, j)
        self.uf.find(0)
        self.nodes = LB_NODES
        _write(pa.table({"src": pa.array(src, type=pa.int64()),
                         "dst": pa.array(dst, type=pa.int64())}),
               os.path.join(out, "label_base.parquet"))

        self.docs = LEX_DOCS
        words = _words(rng, LEX_DOCS, 30, 80)
        _write(pa.table({
            "doc_id": pa.array(np.arange(LEX_DOCS), type=pa.int64()),
            "text": pa.array([_doc_text(w, i) for i, w in enumerate(words)]),
        }), os.path.join(out, "lex_base.parquet"))

        self.centers = rng.normal(0, 1, size=(VEC_CLUSTERS, VEC_DIM))
        self.vecs = VEC_N
        _write(_vec_table(np.arange(VEC_N), _vectors(rng, self.centers, VEC_N)),
               os.path.join(out, "vec_base.parquet"))

        self.batches = {s: [] for s in ("upsert", "label", "lex", "vec")}

    def fold(self, store):
        """Append one micro-batch for `store`.

        Returns (batch number, a key of the batch, its expected read
        answer, rows in the batch, the read's query: the key's unique
        token for the lexical index, its vector for the vector index,
        "-" for the key-value stores).
        """
        rng, b = self.rng, len(self.batches[store])
        if store == "upsert":
            keys = np.sort(rng.choice(UP_KEYS, size=UP_BATCH, replace=False))
            vals = rng.integers(0, 1 << 40, size=UP_BATCH)
            for k, v in zip(keys.tolist(), vals.tolist()):
                self.up[k] = v
            self.batches[store].append((keys, vals))
            probe = int(keys[rng.integers(0, UP_BATCH)])
            return b, probe, self.up[probe], UP_BATCH, "-"
        if store == "label":
            n_new = int(LB_BATCH * 0.98)
            new = np.arange(self.nodes, self.nodes + n_new)
            self.nodes += n_new
            src = new.tolist()
            dst = _zipf(rng, int(new[0]), n_new, s=0.8).tolist()
            for _ in range(LB_BATCH - n_new):
                src.append(int(rng.integers(0, self.nodes)))
                dst.append(int(rng.integers(0, self.nodes)))
            pairs = [(s, d) for s, d in zip(src, dst) if s != d]
            for s, d in pairs:
                self.uf.union(s, d)
            self.batches[store].append(pairs)
            probe = int(new[rng.integers(0, n_new)])
            return b, probe, self.uf.find(probe), len(pairs), "-"
        if store == "lex":
            ids = np.arange(self.docs, self.docs + LEX_BATCH)
            self.docs += LEX_BATCH
            words = _words(rng, LEX_BATCH, 30, 80)
            self.batches[store].append(
                (ids, [_doc_text(w, i) for w, i in zip(words, ids.tolist())]))
            probe = int(ids[rng.integers(0, LEX_BATCH)])
            return b, probe, probe, LEX_BATCH, _unique_token(probe)
        ids = np.arange(self.vecs, self.vecs + VEC_BATCH)
        self.vecs += VEC_BATCH
        vecs = _vectors(rng, self.centers, VEC_BATCH)
        self.batches[store].append((ids, vecs))
        i = int(rng.integers(0, VEC_BATCH))
        # repr of the float32 widened to float64 parses back to it exactly
        return (b, int(ids[i]), int(ids[i]), VEC_BATCH,
                ",".join(repr(float(x)) for x in vecs[i]))

    def write_batches(self):
        out = self.out
        up = self.batches["upsert"]
        _write(pa.table({
            "batch": pa.array(np.repeat(np.arange(len(up)), UP_BATCH),
                              type=pa.int32()),
            "k": pa.array(np.concatenate([k for k, _ in up]), type=pa.int64()),
            "v": pa.array(np.concatenate([v for _, v in up]), type=pa.int64()),
        }), os.path.join(out, "upsert_batches.parquet"), UP_BATCH)
        lb = self.batches["label"]
        _write(pa.table({
            "batch": pa.array([i for i, p in enumerate(lb) for _ in p],
                              type=pa.int32()),
            "src": pa.array([s for p in lb for s, _ in p], type=pa.int64()),
            "dst": pa.array([d for p in lb for _, d in p], type=pa.int64()),
        }), os.path.join(out, "label_batches.parquet"), LB_BATCH)
        lx = self.batches["lex"]
        _write(pa.table({
            "batch": pa.array(np.repeat(np.arange(len(lx)), LEX_BATCH),
                              type=pa.int32()),
            "doc_id": pa.array(np.concatenate([i for i, _ in lx]),
                               type=pa.int64()),
            "text": pa.array([t for _, ts in lx for t in ts]),
        }), os.path.join(out, "lex_batches.parquet"), LEX_BATCH)
        vb = self.batches["vec"]
        _write(_vec_table(np.concatenate([i for i, _ in vb]),
                          np.concatenate([v for _, v in vb]),
                          np.repeat(np.arange(len(vb)), VEC_BATCH)),
               os.path.join(out, "vec_batches.parquet"), VEC_BATCH)


OPS_HEADER = ("kind", "batch", "probe", "expected", "rows", "query")


def _gen_speed_fold(rng, out):
    st = _Stores(rng, out)
    ops = []
    for _ in range(SF_BATCHES):
        for store in ("upsert", "label", "lex", "vec"):
            ops.append(("fold_" + store,) + st.fold(store))
    st.write_batches()
    _tsv(os.path.join(out, "ops.tsv"), OPS_HEADER, ops)


# --------------------------------------------------------------- corpus

def _gen_corpus(rng, out):
    n_dup = int(CB_DOCS * CB_DUP_SHARE)
    n_orig = CB_DOCS - n_dup
    words = _words(rng, n_orig, 60, 140)
    centers = rng.normal(0, 1, size=(VEC_CLUSTERS, VEC_DIM))
    vecs = list(_vectors(rng, centers, n_orig))
    for i in range(n_orig):
        if rng.random() < CB_BOILER_SHARE:
            words[i] = BOILERPLATE + words[i]
    # near-duplicate clusters: copies of an original with two words
    # replaced, so shingle Jaccard stays far above the dedup threshold
    sources = rng.choice(n_orig, size=n_dup)
    cluster = {}
    texts = [list(w) for w in words]
    for s in sources.tolist():
        w = list(words[s])
        for pos in rng.integers(0, len(w), size=2).tolist():
            w[pos] = "w%d" % int(rng.integers(0, VOCAB))
        cluster.setdefault(s, [s]).append(len(texts))
        texts.append(w)
        vecs.append((vecs[s] + rng.normal(0, 0.01, VEC_DIM)).astype(np.float32))
    perm = rng.permutation(CB_DOCS)          # doc ids scatter the clusters
    doc_id = np.empty(CB_DOCS, dtype=np.int64)
    doc_id[perm] = np.arange(CB_DOCS)
    langs = np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, CB_DOCS)]
    order = np.argsort(doc_id)
    _write(pa.table({
        "doc_id": pa.array(doc_id[order]),
        "text": pa.array([" ".join(texts[i]) for i in order.tolist()]),
        "lang": pa.array(langs[order]),
        "source": pa.array(["src%d" % (i % 7) for i in order.tolist()]),
        "n_chars": pa.array([len(" ".join(texts[i])) for i in order.tolist()],
                            type=pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    _write(_vec_table(doc_id[order], np.stack([vecs[i] for i in order])),
           os.path.join(out, "embeddings.parquet"))
    survivors = set(doc_id.tolist())
    rows = []
    for members in cluster.values():
        ids = sorted(int(doc_id[m]) for m in members)
        rows.append((ids[0], ",".join(str(x) for x in ids)))
        survivors -= set(ids[1:])
    _tsv(os.path.join(out, "truth_clusters.tsv"), ("canonical", "members"),
         sorted(rows))
    _tsv(os.path.join(out, "truth_survivors.tsv"), ("doc_id",),
         [(d,) for d in sorted(survivors)])
    _tsv(os.path.join(out, "corpus_meta.tsv"), ("docs",), [(CB_DOCS,)])
    # a hashed bag-of-words quality model (token bucket -> weight)
    _write(pa.table({
        "bucket": pa.array(np.arange(CB_QUALITY_DIM), type=pa.int32()),
        "weight": pa.array(rng.uniform(-0.01, 0.01, CB_QUALITY_DIM)),
    }), os.path.join(out, "quality_model.parquet"))
    _tsv(os.path.join(out, "quality_intercept.tsv"), ("intercept",),
         [(CB_QUALITY_INTERCEPT,)])


def generate(workload, seed, out):
    gen = {"batch_recompute": _gen_batch_recompute,
           "speed_fold": _gen_speed_fold}.get(workload)
    if gen is None:
        raise ValueError("unknown workload %r (one of %s)"
                         % (workload, ", ".join(WORKLOADS)))
    os.makedirs(out)
    gen(_rng(workload, seed), out)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out-dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
