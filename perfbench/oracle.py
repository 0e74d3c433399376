"""Compares catalog query outputs with their DuckDB twins.

Values are normalised before the compare: an integral number is compared
exactly whatever its wire type (int64, HUGEINT or decimal(38,0)), any other
number with a relative and absolute tolerance of REL_TOL, a timestamp as
microseconds since the epoch whatever its parquet encoding (Spark writes
INT96), and row order is ignored (rows are sorted on their normalised
values).
"""
import datetime
import decimal
import math
import os

import duckdb
import pyarrow.parquet as pq

REL_TOL = 1e-9


EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, datetime.datetime):  # pandas Timestamp (ns) included
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2 ** 53:
        return int(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(v):
    if isinstance(v, float):
        return (1, float("%.6g" % v), "")
    if isinstance(v, int) and not isinstance(v, bool):
        return (1, float("%.6g" % v), "")
    if v is None:
        return (0, 0.0, "")
    return (2, 0.0, repr(v))


def _same(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def _rows(table):
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    rows = [tuple(_norm(r[c]) for c in cols) for r in data]
    rows.sort(key=lambda r: tuple(_key(v) for v in r))
    return cols, rows


def compare(got, want):
    """None when the two arrow tables agree, else a one-line reason."""
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return "columns %s != oracle %s" % (gc, wc)
    if len(gr) != len(wr):
        return "%d rows != oracle %d" % (len(gr), len(wr))
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same(a, b):
            return "row %d: %r != oracle %r" % (i, a, b)
    return None


def connect(tables_dir, names):
    con = duckdb.connect()
    for t in names:
        path = os.path.join(tables_dir, t + ".parquet")
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, path))
    return con


def check(outputs_dir, tables_dir, names, oracle_sql):
    """{query: reason} for every query that disagrees or cannot be read."""
    con = connect(tables_dir, names)
    bad = {}
    pairs = {}
    for q, sql in sorted(oracle_sql.items()):
        try:
            got = pq.read_table(os.path.join(outputs_dir, q))
            want = con.execute(sql).arrow()
        except Exception as e:  # a missing output or a failing twin is a failure
            bad[q] = "%s: %s" % (type(e).__name__, str(e)[:200])
            continue
        reason = compare(got, want)
        if reason:
            bad[q] = reason
        pairs[q] = (got, want)
    return bad, pairs


def self_test(pairs):
    """The compare must reject a perturbed copy of an agreeing result: one
    numeric cell moved by 1e-6 relative, and one row dropped. Returns a
    reason when it does not.
    """
    import pyarrow as pa
    for q, (got, want) in sorted(pairs.items()):
        if got.num_rows == 0:
            continue
        for ci, field in enumerate(got.schema):
            if not (pa.types.is_floating(field.type) or pa.types.is_integer(field.type)):
                continue
            vals = got.column(ci).to_pylist()
            if vals[0] is None:
                continue
            bumped = vals[0] + (abs(vals[0]) * 1e-6 + 1 if pa.types.is_integer(field.type)
                                else abs(vals[0]) * 1e-6 + 1e-6)
            vals[0] = type(vals[0])(bumped)
            perturbed = got.set_column(ci, field, pa.array(vals, field.type))
            if compare(perturbed, want) is None:
                return "%s: a perturbed value was accepted" % q
            if compare(got.slice(0, got.num_rows - 1), want) is None:
                return "%s: a dropped row was accepted" % q
            return None
    return "no numeric result to perturb"
