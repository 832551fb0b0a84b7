"""Seeded request streams for the three workloads.

A stream is fixed entirely by the seed: the template layout is the
same for every seed, and the seed draws the parameters and the
Zipf-skewed keys. It is generated before any timing and written next to the
results; the benchmark process receives only the generated text and
parameters.

Each item is {"i", "cls", "tpl", "cat", "text", "params"}; `cls` is the
item's operation class ("light" or "heavy", see README.md). `mutate`
items also carry what the in-memory model expects a read to return and
the user-row bytes of each statement.
"""
import bisect
import json
import random

# ---- interactive: nGQL/openCypher text over GraphModel ("tpch") and the
# LDBC-shaped catalog ("ldbc"). The texts follow the repository's
# oracle-checked queries; `subst` turns each oracle's fixed parameters
# into this request's (every `old` must occur in the oracle text).

SHORT = {
    "go": ("tpch", "q_nql_go",
           'GO 1 TO 2 STEPS FROM "c:{c}" OVER * YIELD origin, vid, step',
           [("c_custkey IN (1, 2)", "c_custkey IN ({c})")]),
    "fetch": ("tpch", "q_nql_fetch",
              'FETCH PROP ON part "p:{p1}", "p:{p2}", "p:{p3}"',
              [("p_partkey IN (1, 2, 3)", "p_partkey IN ({p1}, {p2}, {p3})")]),
    "lookup": ("tpch", "q_nql_lookup",
               "LOOKUP ON customer WHERE customer.acctbal > {t} "
               "YIELD vid, name, acctbal",
               [("c_acctbal > 9900", "c_acctbal > {t}")]),
    "is1": ("ldbc", "q_ldbc_is1",
            'MATCH (n:Person)-[:IS_LOCATED_IN]->(p:Place)\n'
            'WHERE id(n) == "per:{c}"\n'
            'RETURN n.Person.firstName AS firstName, n.Person.lastName AS lastName,\n'
            '       n.Person.gender AS gender, p.Place.name AS cityName',
            [("WHERE id = 42", "WHERE id = {c}")]),
    "is2": ("ldbc", "q_ldbc_is2",
            'MATCH (n:Person)<-[:HAS_CREATOR]-(m:Message)\n'
            'WHERE id(n) == "per:{c}"\n'
            'RETURN m.Message.id AS messageId, m.Message.content AS content,\n'
            '       m.Message.creationDate AS creationDate\n'
            'ORDER BY creationDate DESC, messageId ASC LIMIT 10',
            [("WHERE creator = 7", "WHERE creator = {c}")]),
    "is3": ("ldbc", "q_ldbc_is3",
            'MATCH (n:Person)-[k:KNOWS]-(f:Person)\n'
            'WHERE id(n) == "per:{c}"\n'
            'RETURN f.Person.id AS personId, f.Person.firstName AS firstName,\n'
            '       f.Person.lastName AS lastName, k.creationDate AS since\n'
            'ORDER BY since DESC, personId ASC',
            [("WHERE k.src = 42", "WHERE k.src = {c}")]),
    "is5": ("ldbc", "q_ldbc_is5",
            'MATCH (m:Message)-[:HAS_CREATOR]->(p:Person)\n'
            'WHERE id(m) == "msg:{o}"\n'
            'RETURN p.Person.id AS personId, p.Person.firstName AS firstName,\n'
            '       p.Person.lastName AS lastName',
            [("WHERE m.id = 7", "WHERE m.id = {o}")]),
    "is7": ("ldbc", "q_ldbc_is7",
            'MATCH (m:Message)<-[:REPLY_OF]-(c:Comment)-[:HAS_CREATOR]->(p:Person)\n'
            'WHERE id(m) == "msg:{o}"\n'
            'RETURN c.Comment.id AS commentId,\n'
            '       c.Comment.creationDate AS commentDate,\n'
            '       p.Person.id AS replyAuthorId,\n'
            '       p.Person.firstName AS replyAuthorFirstName\n'
            'ORDER BY commentDate DESC, replyAuthorId ASC',
            [("WHERE c.replyOf = 3", "WHERE c.replyOf = {o}")]),
}

COMPLEX = {
    "ic1": ("ldbc", "q_ldbc_ic1",
            'MATCH pth = (n:Person)-[:KNOWS*1..3]-(f:Person)\n'
            'WHERE id(n) == "per:{c}" AND f.Person.firstName == "First{fn}" '
            'AND id(f) != id(n)\n'
            'RETURN f.Person.id AS friendId, f.Person.lastName AS friendLastName,\n'
            '       min(length(pth)) AS distanceFromPerson\n'
            'ORDER BY distanceFromPerson ASC, friendLastName ASC, friendId ASC\n'
            'LIMIT 20',
            [("FROM K WHERE src = 42", "FROM K WHERE src = {c}"),
             ("p.id <> 42", "p.id <> {c}"),
             ("'First7'", "'First{fn}'")]),
    "ic6": ("ldbc", "q_ldbc_ic6",
            'MATCH (n:Person)-[:KNOWS*1..2]-(f:Person)<-[:HAS_CREATOR]-(m:Message)'
            '-[:HAS_TAG]->(t1:Tag)\n'
            'WHERE id(n) == "per:{c}" AND id(f) != id(n) AND id(t1) == "tag:{tag}"\n'
            'WITH DISTINCT m\n'
            'MATCH (m)-[:HAS_TAG]->(t2:Tag)\n'
            'WHERE id(t2) != "tag:{tag}"\n'
            'RETURN t2.Tag.name AS tagName, count(*) AS postCount\n'
            'ORDER BY postCount DESC, tagName ASC LIMIT 10',
            [("SELECT dst FROM K WHERE src = 42", "SELECT dst FROM K WHERE src = {c}"),
             ("WHERE k1.src = 42", "WHERE k1.src = {c}"),
             ("WHERE dst <> 42", "WHERE dst <> {c}"),
             ("mt.tag = 5", "mt.tag = {tag}"),
             ("mt.tag <> 5", "mt.tag <> {tag}")]),
    "path": ("tpch", "q_nql_path",
             'FIND SHORTEST PATH FROM "c:{c}" TO "r:{r1}", "r:{r2}" UPTO 4 STEPS',
             [("SELECT 'c:1' AS vid", "SELECT 'c:{c}' AS vid"),
              ("p.vid IN ('r:0', 'r:1')", "p.vid IN ('r:{r1}', 'r:{r2}')")]),
    # single-source shortest distances through GraphAlgos, the
    # oracle-checked q_algo_sssp call with a seeded source
    "sssp": ("algo", "q_algo_sssp", "",
             [("SELECT 0, 'c:1', CAST(0.0 AS DOUBLE)",
               "SELECT 0, 'c:{c}', CAST(0.0 AS DOUBLE)")]),
}

TEMPLATES = {**SHORT, **COMPLEX}

# requests per block: every short template once and two complex reads
# (20%)
BLOCK = len(SHORT) + 2
# an untraced window ends on a multiple of this: two blocks, which hold
# every complex template, so every window measures the same mix
INTERACTIVE_UNIT = 2 * BLOCK


class Zipf:
    """Zipf(s) over 0..n-1 mapped through a seeded permutation, so the
    popular keys differ per seed but the skew does not."""

    def __init__(self, rng, n, s=1.1):
        self.perm = list(range(n))
        rng.shuffle(self.perm)
        acc, self.cdf = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            self.cdf.append(acc)
        self.total = acc

    def draw(self, rng):
        k = bisect.bisect_left(self.cdf, rng.random() * self.total)
        return self.perm[min(k, len(self.perm) - 1)]


def _item(i, cls, tpl, cat, text, params):
    return {"i": i, "cls": cls, "tpl": tpl, "cat": cat, "text": text,
            "params": {k: str(v) for k, v in params.items()}}


def _read_params(rng, tpl, z_cust, z_ord, n):
    c = z_cust.draw(rng)
    if tpl == "fetch":
        # distinct keys: the oracle's IN list yields one row per distinct
        # key, FETCH one per listed id
        p1, p2, p3 = rng.sample(range(n["part"]), 3)
        return {"p1": p1, "p2": p2, "p3": p3}
    if tpl == "lookup":
        return {"t": rng.randrange(9700, 9990)}
    if tpl in ("is5", "is7"):
        return {"o": z_ord.draw(rng)}
    if tpl == "ic1":
        return {"c": c, "fn": rng.randrange(20)}
    if tpl == "ic6":
        return {"c": c, "tag": rng.randrange(n["part"])}
    if tpl == "path":
        r1, r2 = rng.sample(range(5), 2)
        return {"c": c, "r1": r1, "r2": r2}
    if tpl == "sssp":
        return {"c": c, "src": f"c:{c}"}
    return {"c": c}


# where the two complex reads sit in every block
HEAVY_AT = (3, 8)


def interactive(seed, n, count):
    """`count` requests in blocks of BLOCK: the short templates in a
    fixed order with the two complex reads at HEAVY_AT, the complex
    ones cycling through their templates. The layout is the same for
    every seed, so runs differ only in what the seed draws: the
    parameters and the Zipf-skewed keys."""
    rng = random.Random(f"interactive:{seed}")
    z_cust, z_ord = Zipf(rng, n["customer"]), Zipf(rng, n["orders"])
    cplx = sorted(COMPLEX)
    out, c_i = [], 0
    while len(out) < count:
        short = sorted(SHORT)
        for b in range(BLOCK):
            if b in HEAVY_AT:
                tpl, cls = cplx[c_i % len(cplx)], "heavy"
                c_i += 1
            else:
                tpl, cls = short.pop(0), "light"
            cat, _, text, _ = TEMPLATES[tpl]
            p = _read_params(rng, tpl, z_cust, z_ord, n)
            out.append(_item(len(out), cls, tpl, cat, text.format(**p), p))
    return out[:count]


def interactive_setup():
    """The request that ends each set-up: a FETCH of three parts."""
    return [_item(-1, "light", "fetch", "tpch", SHORT["fetch"][2].format(
        p1=0, p2=1, p3=2), {"p1": 0, "p2": 1, "p3": 2})]


# ---- mutate: DML on a TableCatalog space, each statement followed by a
# read of a key it just wrote. The model below applies the same
# statements, so each read's expected rows are known in advance.

FETCH_COLS = ["vid", "name", "acctbal", "nationkey"]
GO_COLS = ["dst", "totalprice"]
WRITES = ["insert_vertex", "insert_edge", "update", "upsert", "delete"]
# items per block: every write kind once, each followed by its read
MUTATE_BLOCK = 2 * len(WRITES)
# blocks the warm-up runs before the measured window
MUTATE_WARMUP_BLOCKS = 2


def row_bytes(values):
    """User-row bytes: UTF-8 length of strings, 8 per number."""
    return sum(len(v.encode()) if isinstance(v, str) else 8 for v in values)


class Space:
    """In-memory model of the `mutate` space: customer tag rows and
    placed edges keyed by (src, dst, rank)."""

    def __init__(self, customers, placed):
        # vid -> [name, acctbal, nationkey]
        self.cust = {v: list(r) for v, r in customers.items()}
        self.placed = dict(placed)    # (src, dst, rank) -> totalprice

    def fetch(self, vid):
        if vid not in self.cust:
            return []
        return [[vid] + list(self.cust[vid])]

    def go(self, vid):
        return [[d, tp] for (s, d, _), tp in self.placed.items() if s == vid]

    def live_bytes(self):
        return (sum(row_bytes([v] + list(r)) for v, r in self.cust.items()) +
                sum(row_bytes([s, d, k, tp])
                    for (s, d, k), tp in self.placed.items()))


def _money(rng):
    return round(rng.randrange(1, 100000) / 100.0, 2)


def _write(rng, kind, space, z_cust, counter):
    """One DML statement: (text, keys it wrote, user rows, user bytes),
    applied to `space`."""
    live = sorted(space.cust)

    def existing():
        # Zipf-skewed over the live keys, so hot keys recur
        return live[z_cust.draw(rng) % len(live)]

    if kind == "insert_vertex":
        rows = []
        for _ in range(5):
            counter[0] += 1
            vid = f"c:{counter[0]}"
            rows.append((vid, f"New#{counter[0]}", _money(rng), rng.randrange(25)))
        text = ("INSERT VERTEX customer(name, acctbal, nationkey) VALUES " +
                ", ".join(f'"{v}":("{nm}", {a}, {k})' for v, nm, a, k in rows) + ";")
        for v, nm, a, k in rows:
            space.cust[v] = [nm, a, k]
        return text, [r[0] for r in rows], len(rows), sum(row_bytes(r) for r in rows)
    if kind == "insert_edge":
        rows = []
        for _ in range(5):
            counter[0] += 1
            rows.append((existing(), f"o:{counter[0]}", _money(rng)))
        text = ("INSERT EDGE placed(totalprice) VALUES " +
                ", ".join(f'"{s}"->"{d}":({tp})' for s, d, tp in rows) + ";")
        for s, d, tp in rows:
            space.placed[(s, d, 0)] = tp
        return (text, [rows[0][0]], len(rows),
                sum(row_bytes([s, d, 0, tp]) for s, d, tp in rows))
    if kind == "update":
        vid, delta = existing(), _money(rng)
        text = (f'UPDATE VERTEX ON customer "{vid}" '
                f"SET acctbal = acctbal + {delta};")
        space.cust[vid][1] = space.cust[vid][1] + delta
        return text, [vid], 1, row_bytes([vid] + space.cust[vid])
    if kind == "upsert":
        if rng.random() < 0.5:
            vid = existing()
        else:
            counter[0] += 1
            vid = f"c:{counter[0]}"
        nm, a, k = f"Up#{counter[0]}", _money(rng), rng.randrange(25)
        text = (f'UPSERT VERTEX ON customer "{vid}" '
                f'SET name = "{nm}", acctbal = {a}, nationkey = {k};')
        space.cust[vid] = [nm, a, k]
        return text, [vid], 1, row_bytes([vid, nm, a, k])
    if kind == "delete":
        vid = existing()
        gone = [e for e in space.placed if e[0] == vid or e[1] == vid]
        nbytes = row_bytes([vid] + space.cust[vid]) + sum(
            row_bytes([s, d, r, space.placed[(s, d, r)]]) for s, d, r in gone)
        del space.cust[vid]
        for e in gone:
            del space.placed[e]
        return f'DELETE VERTEX "{vid}" WITH EDGE;', [vid], 1 + len(gone), nbytes
    raise ValueError(kind)


def mutate(seed, n, count, base):
    """`count` items alternating write, read. `base` is (customers,
    placed) as loaded at set-up; returns (items, final Space)."""
    rng = random.Random(f"mutate:{seed}")
    space = Space(*base)
    z_cust = Zipf(rng, n["customer"])
    counter = [10 * n["orders"]]     # fresh ids above every base key
    out = []
    k = 0
    while len(out) < count:
        kind = WRITES[k % len(WRITES)]
        text, keys, urows, ubytes = _write(rng, kind, space, z_cust, counter)
        w = _item(len(out), "heavy", kind, "mut", text, {})
        w["user_rows"], w["user_bytes"] = urows, ubytes
        out.append(w)
        vid = keys[0]
        if k % 2 == 0:
            r = _item(len(out), "light", "fetch", "mut",
                      f'FETCH PROP ON customer "{vid}"', {"vid": vid})
            r["expect_cols"], r["expect"] = FETCH_COLS, space.fetch(vid)
        else:
            r = _item(len(out), "light", "go", "mut",
                      f'GO FROM "{vid}" OVER placed YIELD placed._dst AS dst, '
                      f'placed.totalprice AS totalprice', {"vid": vid})
            r["expect_cols"], r["expect"] = GO_COLS, space.go(vid)
        out.append(r)
        k += 1
    return out[:count], space


def mutate_setup():
    """The request that ends each set-up: a read of a base key."""
    return [_item(-1, "light", "fetch", "mut", 'FETCH PROP ON customer "c:0"',
                  {"vid": "c:0"})]


def mutate_warmup(seed, n, base):
    """MUTATE_WARMUP_BLOCKS blocks of statements and reads with their
    own seed; the benchmark runs them on a space other than the
    measured one."""
    return mutate(f"warmup-{seed}", n, MUTATE_WARMUP_BLOCKS * MUTATE_BLOCK, base)[0]


def replay_mutate(seed, n, base, upto):
    """The model after the first `upto` stream items."""
    if upto <= 0:
        return Space(*base)
    _, space = mutate(seed, n, upto, base)
    return space


def write(path, setup, warmup, items):
    with open(path, "w") as f:
        json.dump({"setup": setup, "warmup": warmup, "items": items}, f,
                  sort_keys=True, separators=(",", ":"))
