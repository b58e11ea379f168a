#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything the system under test reads comes from here, and the same
seed always gives byte-identical files:

  social/store_blocks.jsonl    Hive-shaped blocks that build the served
                               store: top-level posts, a reply forest,
                               edits, votes, follows, account_update2
  social/content_rpc.jsonl     get_content snapshot for enrichment
  social/requests.json         the feed_api GraphQL request pool and
                               the seeded order the clients send it in
  social/meta.json             the chain's end time, the API's clock
  catalog/<table>.parquet      the ten catalog tables (TPC-H-ish star
                               schema, events, documents, embeddings)

Post bodies and catalog documents use the 30-word vocabulary of the
repository's documents test table, so text operators see the same
token statistics.

Usage: python3 perfbench/gen.py <out_dir> <seed> <social|catalog|all>
"""
import datetime as dt
import hashlib
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group",
         "hash", "customer", "sort", "order", "slow", "line", "part",
         "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch"]
TAGS = ["video", "fun", "music", "travel", "food", "gaming", "tech", "art",
        "life", "news", "photo", "sports", "science", "nature", "diy",
        "books", "film", "crypto", "health", "spark"]
BLOCK0 = 80_000_000
EPOCH = dt.datetime(2024, 3, 1)


def config():
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def dumps(o):
    return json.dumps(o, separators=(",", ":"), sort_keys=True)


def body(rng, lo, hi):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


class Chain:
    """Accumulates ops into blocks of a fixed op count and time step."""

    def __init__(self, ops_per_block, seconds_per_block):
        self.height = BLOCK0
        self.t = EPOCH
        self.per = ops_per_block
        self.step = dt.timedelta(seconds=seconds_per_block)
        self.pending = []

    def add(self, name, payload):
        self.pending.append((name, payload))

    def blocks(self, step=None):
        out = []
        for i in range(0, len(self.pending), self.per):
            ops = self.pending[i:i + self.per]
            txs = [{"transaction_id": "%08x%04d" % (self.height, j),
                    "operations": [{"name": n, "payload": dumps(p)}]}
                   for j, (n, p) in enumerate(ops)]
            out.append(dumps({
                "block_id": "%08x" % self.height + "ab" * 12,
                "timestamp": self.t.strftime("%Y-%m-%dT%H:%M:%S"),
                "transactions": txs}))
            self.height += 1
            self.t += step or self.step
        self.pending = []
        return out


def social(out, seed, c):
    rng = random.Random(seed)
    s = c["social"]
    authors = ["u%04d" % i for i in range(s["authors"])]
    os.makedirs(out, exist_ok=True)
    posts = []      # (author, permlink, parent_author, parent_permlink, tags)
    hot = []        # top-level posts that draw half of all replies

    def meta(tags):
        if rng.random() < 0.6:
            return dumps({"app": "3speak/0.3", "tags": tags,
                          "video": {"info": {"duration": rng.randint(30, 900),
                                             "lang": "en"}}})
        return dumps({"app": "dBuzz/1.0", "tags": tags})

    def new_post(chain, n):
        a = rng.choice(authors)
        tags = rng.sample(TAGS, rng.randint(1, 3))
        # a mention in one post in eight feeds the notifications pass
        text = body(rng, 8, 60)
        if rng.random() < 0.125:
            text += " @" + rng.choice(authors)
        p = (a, "p%06d" % n, "", "hive-1%05d" % TAGS.index(tags[0]), tags)
        chain.add("comment", {"parent_author": "", "parent_permlink": p[3],
                              "author": a, "permlink": p[1],
                              "title": body(rng, 2, 6), "body": text,
                              "json_metadata": meta(tags)})
        posts.append(p)
        if n % 10 == 0:
            hot.append(p)
        return p

    def new_reply(chain, n):
        # half the replies go to one of the recent "hot" top-level posts
        # (one in ten), half to any recent post, replies included, so
        # the forest has long threads and hot posts with full pages
        if hot and rng.random() < 0.5:
            parent = hot[-1 - int(rng.expovariate(1 / 30.0)) % len(hot)]
        else:
            parent = posts[-1 - int(rng.expovariate(1 / 300.0)) % len(posts)]
        a = rng.choice(authors)
        p = (a, "r%06d" % n, parent[0], parent[1], parent[4])
        chain.add("comment", {"parent_author": parent[0],
                              "parent_permlink": parent[1], "author": a,
                              "permlink": p[1], "title": "",
                              "body": body(rng, 4, 30),
                              "json_metadata": dumps({"app": "dBuzz/1.0",
                                                      "tags": p[4]})})
        posts.append(p)
        return p

    def edit(chain):
        p = rng.choice(posts)
        chain.add("comment", {"parent_author": p[2], "parent_permlink": p[3],
                              "author": p[0], "permlink": p[1],
                              "title": "edited", "body": body(rng, 8, 60),
                              "json_metadata": dumps({"app": "dBuzz/1.0",
                                                      "tags": p[4]})})

    def vote(chain):
        p = rng.choice(posts)
        chain.add("vote", {"voter": rng.choice(authors), "author": p[0],
                           "permlink": p[1],
                           "weight": rng.choice([10000, 5000, -10000])})

    counter = [0]

    def nid():
        counter[0] += 1
        return counter[0]

    # ---- store history
    chain = Chain(s["ops_per_block"], s["store_seconds_per_block"])
    for a in authors:
        chain.add("account_update2", {
            "account": a, "posting_json_metadata": dumps({"profile": {
                "name": a.upper(), "about": body(rng, 3, 12),
                "profile_image": "https://img/%s.png" % a}})})
    for _ in range(s["follows"]):
        f, g = rng.sample(authors, 2)
        chain.add("custom_json", {
            "id": "follow", "required_posting_auths": [f],
            "json": dumps(["follow", {"follower": f, "following": g,
                                      "what": ["blog"]}])})
    for i in range(s["store_posts"]):
        if i < 50 or rng.random() < s["store_top_level_share"]:
            new_post(chain, nid())
        else:
            new_reply(chain, nid())
        if rng.random() < s["store_edit_share"]:
            edit(chain)
        if rng.random() < s["store_vote_share"]:
            vote(chain)
    store = chain.blocks()

    with open(os.path.join(out, "store_blocks.jsonl"), "w") as f:
        f.write("\n".join(store) + "\n")
    with open(os.path.join(out, "meta.json"), "w") as f:
        f.write(dumps({"now": chain.t.strftime("%Y-%m-%d %H:%M:%S")}))

    # ---- content RPC snapshot over every post
    with open(os.path.join(out, "content_rpc.jsonl"), "w") as f:
        for p in posts:
            votes = [{"voter": v, "rshares": float(rng.randint(-50, 500)),
                      "percent": 10000, "weight": 1.0}
                     for v in rng.sample(authors, rng.randint(0, 6))]
            f.write(dumps({
                "author": p[0], "permlink": p[1],
                "last_payout": "1970-01-01T00:00:00",
                "pending_payout_value": "%.3f HBD" % rng.uniform(0, 40),
                "total_payout_value": "0.000 HBD",
                "curator_payout_value": "0.000 HBD",
                "net_votes": len(votes),
                "max_accepted_payout": "1000000.000 HBD",
                "max_cashout_time": "1969-12-31T23:59:59",
                "cashout_time": "2024-06-07T00:00:00",
                "active_votes": votes}) + "\n")

    # ---- feed_api request pool and the order clients send it in
    st_top = [p for p in posts if p[2] == ""]
    # a post page is opened in proportion to its replies: the children
    # requests read hot posts, whose first page of 10 is full
    kids = {}
    for p in posts:
        if p[2] != "":
            kids[(p[2], p[3])] = kids.get((p[2], p[3]), 0) + 1
    with_kids = sorted(k for k, v in kids.items() if v >= 10)
    item = "items { author permlink title created_at stats { num_comments } }"

    def social_feed():
        t = rng.choice(TAGS)
        return {"tag": t}, ('{ socialFeed(feedOptions: {byTag: {_eq: "%s"}}, '
                            'pagination: {limit: 20}) { %s } }' % (t, item))

    def trending_feed():
        t = rng.choice(TAGS)
        return {"tag": t}, ('{ trendingFeed(feedOptions: {byTag: {_eq: "%s"}}, '
                            'pagination: {limit: 20}) { items { author '
                            'permlink stats { num_comments } } } }' % t)

    def children():
        a, p = rng.choice(with_kids)
        return {"author": a, "permlink": p}, (
            '{ socialPost(author: "%s", permlink: "%s") { author permlink '
            'title body children(limit: 10) { author permlink body } } }'
            % (a, p))

    def search_feed():
        w = rng.sample(VOCAB[:25], 2)
        return {"terms": " ".join(w)}, (
            '{ searchFeed(searchTerm: "%s", pagination: {limit: 20}) '
            '{ items { author permlink } } }' % " ".join(w))

    def related_feed():
        a, p = rng.choice(st_top)[:2]
        return {"author": a, "permlink": p}, (
            '{ relatedFeed(author: "%s", permlink: "%s") '
            '{ items { author permlink } } }' % (a, p))

    def profile():
        a = rng.choice(authors)
        return {"id": a}, ('{ profile(id: "%s") { id username name about } }'
                           % a)

    def trending_tags():
        return {"limit": 10}, '{ trendingTags(limit: 10) { tags { tag score } } }'

    gens = {"socialFeed": social_feed, "trendingFeed": trending_feed,
            "children": children, "searchFeed": search_feed,
            "relatedFeed": related_feed, "profile": profile,
            "trendingTags": trending_tags}
    fa = c["workloads"]["feed_api"]
    pool = []
    for field in sorted(fa["mix"]):
        for _ in range(1 if field == "trendingTags" else fa["pool_per_field"]):
            args, query = gens[field]()
            pool.append({"field": field, "args": args, "query": query})
    # smooth weighted round-robin over the fields: every prefix of the
    # sequence carries the configured mix, so runs of any length send
    # the same share of each field; within a field, its pool entries
    # take turns
    mix = fa["mix"]
    credit = {f: 0 for f in mix}
    turn = {f: 0 for f in mix}
    by_field = {f: [i for i, r in enumerate(pool) if r["field"] == f]
                for f in mix}
    order = []
    for _ in range(fa["sequence_length"]):
        for f in mix:
            credit[f] += mix[f]
        f = max(sorted(mix), key=lambda g: credit[g])
        credit[f] -= sum(mix.values())
        order.append(by_field[f][turn[f] % len(by_field[f])])
        turn[f] += 1
    with open(os.path.join(out, "requests.json"), "w") as f:
        f.write(dumps({"pool": pool, "order": order}))


def catalog(out, seed, c):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed + 7919)
    n = c["catalog"]["rows"]
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                       row_group_size=1 << 30)

    ts = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    write("customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(segs) for _ in range(nc)]})
    write("supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(ns)]})
    adj = ["large", "hot", "small", "shiny", "dark", "pale", "red", "green"]
    noun = ["ring", "bolt", "gear", "nut", "pipe", "valve", "spring", "cap"]
    write("part", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [rng.choice(adj) + " " + rng.choice(noun)
                   for _ in range(np_)],
        "p_brand": ["Brand#%d" % rng.randint(1, 25) for _ in range(np_)],
        "p_type": [rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                               "PROMO"]) for _ in range(np_)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(np_)],
                           pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10.0, 2)
                          for i in range(np_)]})
    d0 = dt.datetime(1995, 1, 1)
    odates = [d0 + dt.timedelta(days=rng.randrange(2404)) for _ in range(no)]
    write("orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(no)],
        "o_totalprice": [round(rng.uniform(900, 500000), 2)
                         for _ in range(no)],
        "o_orderdate": pa.array(odates, ts),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(no)]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for _ in range(n["lineitem"]):
        o = rng.randrange(no)
        q = float(rng.randint(1, 50))
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rng.randrange(np_))
        li["l_suppkey"].append(rng.randrange(ns))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(q)
        li["l_extendedprice"].append(round(q * rng.uniform(900, 2000), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100.0)
        li["l_tax"].append(rng.randint(0, 8) / 100.0)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(odates[o] + dt.timedelta(
            days=rng.randint(1, 121)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], ts)
    write("lineitem", li)
    ne, users = n["events"], n["users"]
    t0 = dt.datetime(2024, 1, 1)
    step = 30 * 86400 * 1e6 / ne
    write("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(
            i * step + rng.random() * step)) for i in range(ne)], ts),
        "user_id": pa.array([rng.randrange(users) for _ in range(ne)],
                            pa.int64()),
        "event_type": [rng.choice(["click", "view", "purchase", "signup",
                                   "error"]) for _ in range(ne)],
        "value": [round(rng.expovariate(1 / 40.0) + 0.01, 2)
                  for _ in range(ne)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if texts and r < 0.02:          # exact duplicate
            texts.append(rng.choice(texts))
        elif texts and r < 0.07:
            # near duplicate in the test data's shape: the source minus
            # its first word, plus "dup" (shingle Jaccard about 0.9+)
            texts.append(" ".join(rng.choice(texts).split()[1:] + ["dup"]))
        else:
            texts.append(body(rng, 10, 100))
    langs = ["en"] * 8 + ["zh", "es", "fr", "de"] * 2
    write("documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(nd)],
        "source": ["src%d" % (i % 20) for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv, dim = n["embeddings"], 64
    cent = [[rng.gauss(0, 0.15) for _ in range(dim)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(nv)]
    write("embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array([[c_ + rng.gauss(0, 0.08) for c_ in cent[l]]
                               for l in labels], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def digest(root):
    """sha256 over every generated file, path-ordered."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(out, seed, which):
    c = config()
    if which in ("social", "all"):
        social(os.path.join(out, "social"), seed, c)
    if which in ("catalog", "all"):
        catalog(os.path.join(out, "catalog"), seed, c)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(digest(sys.argv[1]))
