"""Output checks for the benchmark's workloads.

Every check compares what the program produced against a result computed
apart from it: DuckDB over the same generated parquet inputs, a
union-find on the driver, or a property of the method (u-probabilities
sum to 1, EM never lowers the likelihood). Each check is also fed a
deliberately perturbed copy of the program's output (one pair dropped,
one level flipped, one row added); a check that passes on the perturbed
copy is itself broken and fails the run.

DuckDB results that depend only on the inputs are cached under
`<build dir>/refs/<digest>`, keyed by the inputs' bytes and this file.
"""

import hashlib
import math
import os
import shutil

import duckdb

CACHE_KEEP = 8


class Check:
    def __init__(self, name, ok, detail, control_ok):
        self.name, self.ok, self.detail, self.control_ok = name, ok, detail, control_ok

    def passed(self):
        # The real output must pass and the perturbed one must fail.
        return self.ok and not self.control_ok

    def __repr__(self):
        state = "ok" if self.passed() else "FAIL"
        control = "control caught" if not self.control_ok else "CONTROL NOT CAUGHT"
        return f"{self.name}: {state} ({self.detail}; {control})"


def check(name, fn, real, perturbed):
    ok, detail = fn(real)
    control_ok, _ = fn(perturbed)
    return Check(name, ok, detail, control_ok)


def _digest(paths):
    """sha256 over the bytes of every file under `paths` (sorted by
    content hash, so part-file names do not matter) and of this file."""
    parts = []
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                if f.startswith(".") or f.startswith("_"):
                    continue
                with open(os.path.join(dirpath, f), "rb") as fh:
                    parts.append(hashlib.sha256(fh.read()).hexdigest())
    h = hashlib.sha256()
    for x in sorted(parts):
        h.update(x.encode())
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:24]


def _ref_dir(cache, workload, inputs, build):
    """The cache entry for these inputs, filled by `build(dir)` on a miss."""
    d = os.path.join(cache, f"{workload}-{_digest(inputs)}")
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    build(d)
    open(os.path.join(d, "DONE"), "w").close()
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def connect(work, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    con.execute("SET preserve_insertion_order = false")
    return con


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def same_bag(con, got_sql, ref_sql):
    """Multiset equality of two relations with the same columns."""
    extra = con.sql(f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({ref_sql}))").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (({ref_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    return extra == 0 and missing == 0, f"{extra} extra, {missing} missing"


def drop_one(sql, order):
    return f"SELECT * FROM ({sql}) ORDER BY {order} OFFSET 1"


# --------------------------------------------------------------- linkage

LEVELS_SQL = """
    CASE WHEN jw = 1 THEN 'full agreement'
         WHEN jw > 0.9 THEN 'strong partial agreement'
         WHEN jw > 0.85 THEN 'weak partial agreement'
         ELSE 'no agreement' END AS name,
    CASE WHEN nk_l = nk_r THEN 'agree' WHEN nk_l <> nk_r THEN 'disagree' END AS nationkey,
    CASE WHEN sg_l = sg_r THEN 'agree' WHEN sg_l <> sg_r THEN 'disagree' END AS segment,
    CASE WHEN abs(bal_l - bal_r) < 1.5 THEN 'close' ELSE 'far' END AS bal_band
"""
FIELDS = ("bal_band", "name", "nationkey", "segment")


def _linkage_refs(con):
    def build(ref):
        # The blocking union: 5-letter name prefix, or nation and 10.00 balance band.
        con.execute(f"""COPY (
            SELECT a.rec_id AS rec_id_left, b.rec_id AS rec_id_right FROM a JOIN b
              ON substr(a.name, 1, 5) = substr(b.name, 1, 5)
            UNION
            SELECT a.rec_id, b.rec_id FROM a JOIN b
              ON a.nationkey = b.nationkey AND floor(a.acctbal / 10) = floor(b.acctbal / 10)
            ) TO '{ref}/candidates.parquet' (FORMAT parquet)""")
        con.execute(f"""COPY (
            SELECT {', '.join(FIELDS)}, count(*) AS n FROM (
              SELECT {LEVELS_SQL} FROM (
                SELECT jaro_winkler_similarity(a.name, b.name) AS jw,
                       a.nationkey AS nk_l, b.nationkey AS nk_r, a.segment AS sg_l,
                       b.segment AS sg_r, a.acctbal AS bal_l, b.acctbal AS bal_r
                FROM read_parquet('{ref}/candidates.parquet') c
                JOIN a ON a.rec_id = c.rec_id_left
                JOIN b ON b.rec_id = c.rec_id_right)) GROUP BY ALL
            ) TO '{ref}/patterns.parquet' (FORMAT parquet)""")
    return build


def _log_likelihood(patterns, fit):
    lam, m, u = fit["lambda"], fit["m"], fit["u"]
    total = 0.0
    for p in patterns:
        lm, lu = math.log(lam), math.log1p(-lam)
        for f, level in p["levels"].items():
            if level is not None:
                lm += math.log(m[f][level]) if m[f][level] > 0 else -math.inf
                lu += math.log(u[f][level]) if u[f][level] > 0 else -math.inf
        top = max(lm, lu)
        total += p["n"] * (top + math.log(math.exp(lm - top) + math.exp(lu - top)))
    return total


def linkage(con, out, cache):
    c = out["checks"]
    d = c["dir"]
    con.execute(f"CREATE OR REPLACE VIEW a AS SELECT * FROM {_pq(d + '/a')}")
    con.execute(f"CREATE OR REPLACE VIEW b AS SELECT * FROM {_pq(d + '/b')}")
    ref = _ref_dir(cache, "linkage", [f"{d}/a", f"{d}/b"], _linkage_refs(con))
    results = []

    got = f"SELECT rec_id_left, rec_id_right FROM {_pq(d + '/candidates')}"
    want = f"SELECT * FROM read_parquet('{ref}/candidates.parquet')"
    results.append(check("linkage.candidates = DuckDB blocking union",
                         lambda g: same_bag(con, g, want), got,
                         drop_one(got, "rec_id_left, rec_id_right")))

    ref_patterns = {tuple(r[:-1]): r[-1] for r in con.sql(
        f"SELECT {', '.join(FIELDS)}, n FROM read_parquet('{ref}/patterns.parquet')").fetchall()}

    def patterns_match(pats):
        got = {tuple(p["levels"][f] for f in FIELDS): p["n"] for p in pats}
        diff = sum(1 for k in set(got) | set(ref_patterns) if got.get(k) != ref_patterns.get(k))
        return diff == 0, f"{len(got)} patterns, {diff} differ"

    flipped = [dict(p, levels=dict(p["levels"])) for p in c["patterns"]]
    flipped[0]["levels"]["bal_band"] = "far" if flipped[0]["levels"]["bal_band"] == "close" else "close"
    results.append(check("linkage.pattern counts = DuckDB", patterns_match, c["patterns"], flipped))

    def sums_to_one(u):
        worst = max(abs(sum(levels.values()) - 1.0) for levels in u.values())
        return worst < 1e-9, f"max |sum - 1| = {worst:.1e}"

    extra = {f: dict(levels) for f, levels in c["u"].items()}
    extra["name"]["extra level"] = 0.01
    results.append(check("linkage.u-probabilities sum to 1 per field", sums_to_one, c["u"], extra))

    def monotone(fits):
        ll = [_log_likelihood(c["patterns"], f) for f in fits]
        drops = [k + 2 for k in range(len(ll) - 1) if ll[k + 1] < ll[k] - 1e-9 * abs(ll[k])]
        return not drops, f"log-likelihood {ll[0]:.6g} -> {ll[-1]:.6g} over maxIter 1..{len(ll)}"

    swapped = [c["em"][-1]] + c["em"][1:-1] + [c["em"][0]]
    results.append(check("linkage.EM log-likelihood non-decreasing in maxIter",
                         monotone, c["em"], swapped))

    def precision_recall(shift):
        tp, n = con.sql(f"""SELECT count(*) FILTER (WHERE rec_id_right - 1000000000 = rec_id_left + {shift}),
                                   count(*) FROM {_pq(d + '/matches')}""").fetchone()
        n_b = con.sql("SELECT count(*) FROM b").fetchone()[0]
        p, r = (tp / n if n else 0.0), tp / n_b
        return p >= 0.99 and r >= 0.99, f"precision {p:.5f}, recall {r:.5f} at weight > 0"

    results.append(check("linkage.precision and recall >= 0.99 against planted truth",
                         precision_recall, 0, 1))
    results.append(check("linkage.calibration slope > 0",
                         lambda s: (s > 0, f"slope {s:.4g}"),
                         c["calibration_slope"], -c["calibration_slope"]))
    return results


# ----------------------------------------------------------------- dedup

def _dedup_refs(con, n_base, shingle, min_jaccard):
    num, den = min_jaccard.as_integer_ratio()
    shingles = " || ' ' || ".join(f"toks[i + {j}]" for j in range(shingle))

    def build(ref):
        con.execute(f"COPY (SELECT count(DISTINCT text) AS n FROM docs) TO '{ref}/distinct.parquet' (FORMAT parquet)")
        # Replica 0's exact Jaccard pairs by shingle co-occurrence, with the
        # threshold compared in integers: inter / union >= num / den.
        con.execute(f"""COPY (
            WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
                       FROM docs WHERE doc_id < {n_base}),
            s AS (SELECT DISTINCT id, unnest(list_transform(
                    generate_series(1, len(toks) - {shingle - 1}), i -> {shingles})) AS sh
                  FROM t WHERE len(toks) >= {shingle}),
            sz AS (SELECT id, count(*) AS n FROM s GROUP BY id),
            co AS (SELECT x.id AS a, y.id AS b, count(*) AS inter
                   FROM s x JOIN s y ON x.sh = y.sh AND x.id < y.id GROUP BY x.id, y.id)
            SELECT a AS id_a, b AS id_b FROM co
            JOIN sz sa ON sa.id = co.a JOIN sz sb ON sb.id = co.b
            WHERE {den} * inter >= {num} * (sa.n + sb.n - inter)
            ) TO '{ref}/pairs0.parquet' (FORMAT parquet)""")
    return build


def _components(n, pairs):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    merged = 0
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            merged += 1
    return n - merged


def _pagerank_exact(edges, iterations, damp_num=85, damp_den=100, scale=1_000_000):
    """The integer update rule `Graphs.pageRankExact` documents, in Python."""
    edges = set(edges)
    nodes = {x for e in edges for x in e}
    deg = {}
    for src, _ in edges:
        deg[src] = deg.get(src, 0) + 1
    base = ((damp_den - damp_num) * scale) // damp_den
    rank = dict.fromkeys(nodes, scale)
    for _ in range(iterations):
        dang = sum(r for i, r in rank.items() if i not in deg)
        inbound = {}
        for src, dst in edges:
            inbound[dst] = inbound.get(dst, 0) + rank[src] // deg[src]
        rank = {i: base + (damp_num * (inbound.get(i, 0) + dang // len(nodes))) // damp_den
                for i in nodes}
    return rank


def dedup(con, out, cache):
    c = out["checks"]
    d, n, reps = c["dir"], c["base_docs"], c["replicas"]
    con.execute(f"CREATE OR REPLACE VIEW docs AS SELECT * FROM {_pq(d + '/docs')}")
    ref = _ref_dir(cache, "dedup", [f"{d}/docs"],
                   _dedup_refs(con, n, c["shingle"], c["min_jaccard"]))
    results = []

    distinct = con.sql(f"SELECT n FROM read_parquet('{ref}/distinct.parquet')").fetchone()[0]
    results.append(check("dedup.keep rows = DuckDB count(DISTINCT text)",
                         lambda k: (k == distinct, f"{k} kept, {distinct} distinct"),
                         c["keep"], c["keep"] + 1))

    pairs = f"SELECT id_a, id_b FROM {_pq(d + '/prefix_pairs')}"
    got0 = f"SELECT * FROM ({pairs}) WHERE id_b < {n}"
    want0 = f"SELECT * FROM read_parquet('{ref}/pairs0.parquet')"
    results.append(check("dedup.replica-0 prefix pairs = DuckDB Jaccard join",
                         lambda g: same_bag(con, g, want0), got0, drop_one(got0, "id_a, id_b")))

    def shifted(base):
        return f"""SELECT id_a + r * {n} AS id_a, id_b + r * {n} AS id_b
                   FROM ({base}) p, range({reps}) t(r)"""

    results.append(check(f"dedup.x{reps} pairs = {reps} id-shifted copies of replica 0",
                         lambda g: same_bag(con, g, shifted(got0)), pairs,
                         drop_one(pairs, "id_a DESC, id_b DESC")))

    exact = shifted(want0)
    lsh = f"SELECT id_a, id_b FROM {_pq(d + '/lsh_pairs')}"

    def subset(g):
        outside = con.sql(f"SELECT count(*) FROM (({g}) EXCEPT ({exact}))").fetchone()[0]
        total = con.sql(f"SELECT count(*) FROM ({g})").fetchone()[0]
        return outside == 0, f"{total} LSH pairs, {outside} not exact"

    results.append(check("dedup.LSH pairs are a subset of the exact pairs", subset, lsh,
                         f"{lsh} UNION ALL SELECT 0, {n * reps - 1}"))

    components = _components(n * reps, con.sql(exact).fetchall())
    results.append(check("dedup.cluster keep count = union-find components",
                         lambda k: (k == components, f"{k} kept, {components} components"),
                         c["cluster_keep"], c["cluster_keep"] + 1))
    results.append(check("dedup.audited read-back rows = cluster keep count",
                         lambda r: (r == c["cluster_keep"], f"{r} rows read back"),
                         c["read_back"], c["read_back"] + 1))

    # Graph layer, over the reference pair graph (id_a -> id_b).
    edges = con.sql(exact).fetchall()

    def same_map(want, what):
        def fn(got):
            diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            return diff == 0, f"{len(got)} nodes, {diff} {what} differ"
        return fn

    def bumped(m):
        k = min(m)
        return {**m, k: m[k] + 1}

    got_pr = dict(con.sql(f"SELECT id, rank FROM {_pq(d + '/pagerank')}").fetchall())
    want_pr = _pagerank_exact(edges, c["pagerank_iterations"])
    results.append(check("dedup.PageRank (exact) = Python mirror of its update rule",
                         same_map(want_pr, "ranks"), got_pr, bumped(got_pr)))
    triangles = con.sql(f"""WITH e AS ({exact})
        SELECT count(*) FROM e ab JOIN e bc ON ab.id_b = bc.id_a
        JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b""").fetchone()[0]
    results.append(check("dedup.triangle count = DuckDB triangle join",
                         lambda t: (t == triangles, f"{t} triangles, {triangles} in DuckDB"),
                         c["triangles"], c["triangles"] + 1))
    return results


CHECKS = {"linkage": linkage, "dedup": dedup}
