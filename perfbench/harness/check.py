"""Output checks. Every request's rows are compared, as an
order-insensitive canonical form and its hash, against the repository's
DuckDB oracle for the same parameters (interactive) or
against the in-memory model (mutate). A mismatch is a failure of that
request; nothing is dropped.
"""
import hashlib
import json


def _value(v):
    if isinstance(v, bool) or v is None:
        return json.dumps(v)
    if isinstance(v, (int, float)):
        return format(float(v), ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_value(v[k])}" for k in sorted(v)) + "}"
    return json.dumps(str(v))


def canon(cols, rows):
    """Columns sorted by name, values in one text form (numbers as
    9 significant digits), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(cols[i] for i in order),
            sorted(tuple(_value(r[i]) for i in order) for r in rows))


def digest(cols, rows):
    c, rs = canon(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for r in rs:
        h.update(repr(r).encode())
    return h.hexdigest()


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    if digest(got_cols, got_rows) != digest(want_cols, want_rows):
        g, w = canon(got_cols, got_rows)[1], canon(want_cols, want_rows)[1]
        diff = next(((a, b) for a, b in zip(g, w) if a != b), None)
        return f"values differ, first {diff}"
    return None


def substitute(sql, subst, params):
    """The oracle text with this request's parameters in place of the
    fixed ones; every replaced fragment must be present."""
    for old, new in subst:
        if old not in sql:
            raise ValueError(f"oracle text lacks {old!r}")
        sql = sql.replace(old, new.format(**params))
    return sql


class Oracle:
    """DuckDB answers, computed once per distinct oracle text."""

    def __init__(self, con):
        self.con = con
        self.memo = {}

    def answer(self, sql):
        if sql not in self.memo:
            rel = self.con.sql(sql)
            self.memo[sql] = (list(rel.columns), rel.fetchall())
        return self.memo[sql]
