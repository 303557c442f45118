"""Output checks for perfbench runs, made after the timed loop.

Outputs are compared with the engine's own DuckDB oracle SQL run over the
same generated inputs. Both sides are rendered to text inside DuckDB
(timestamps in UTC, columns matched by name) and compared as multisets of
rows, so row order and column order do not matter; this is the comparison
tools/compare.py makes, done in SQL so million-row outputs stay cheap.
Each function returns a list of failure messages, empty when the output
is correct.
"""
import os

import duckdb

TABLES = ["lineitem", "orders", "documents", "embeddings"]


def connect(inputs):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rendered(con, relation):
    """SELECT list rendering every column of `relation` as text, by name."""
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        c = '"' + name.replace('"', '""') + '"'
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            c = f"CAST({c} AS TIMESTAMP)"
        parts.append(f"CAST({c} AS VARCHAR) AS \"{name}\"")
    return [n for n, *_ in sorted(cols)], ", ".join(parts)


def _load(con, name, path):
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")


def compare(con, got, want, subset=False):
    """Multiset comparison of two relations after rendering. With `subset`,
    only rows of `got` missing from `want` are failures."""
    gcols, gsel = _rendered(con, got)
    wcols, wsel = _rendered(con, want)
    if gcols != wcols:
        return [f"columns differ: got {gcols}, want {wcols}"]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {gsel} FROM {got} EXCEPT ALL "
                        f"SELECT {wsel} FROM {want})").fetchone()[0]
    missing = 0 if subset else con.execute(
        f"SELECT count(*) FROM (SELECT {wsel} FROM {want} EXCEPT ALL "
        f"SELECT {gsel} FROM {got})").fetchone()[0]
    if extra or missing:
        return [f"{extra} rows not in the oracle, {missing} oracle rows missing"]
    return []


def oracle_output(con, path, sql, ordered_by=None):
    """Compare a parquet output with an oracle query; optionally also check
    that the files, read in name order, are sorted by `ordered_by`."""
    _load(con, "got", path)
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    errs = compare(con, "got", "want")
    if ordered_by and not errs:
        keys = ", ".join(f'"{k}"' for k in ordered_by)
        bad = con.execute(
            f"SELECT count(*) FROM (SELECT ({keys}) AS k, lag(({keys})) OVER (ORDER BY filename, "
            f"file_row_number) AS p FROM read_parquet('{path}/*.parquet', filename = true, "
            f"file_row_number = true)) WHERE p > k").fetchone()[0]
        if bad:
            errs.append(f"{bad} rows out of order")
    return errs


def near_dup_output(con, path, sql, strong=0.9):
    """Blocked near-duplicate search against the exact all-pairs oracle.
    Every returned pair must be an oracle pair with the same score, and
    every pair scoring at least `strong` (the injected near-duplicates)
    must be returned; weaker pairs the blocking misses only lower recall.
    Returns (failures, recall)."""
    _load(con, "got", path)
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    errs = compare(con, "got", "want", subset=True)
    con.execute(f"CREATE OR REPLACE TEMP TABLE strong AS SELECT * FROM want WHERE cos >= {strong}")
    missing = con.execute("SELECT count(*) FROM (SELECT d1, d2 FROM strong EXCEPT "
                          "SELECT d1, d2 FROM got)").fetchone()[0]
    if missing:
        errs.append(f"{missing} near-duplicate pairs with cos >= {strong} missing")
    n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "want"))
    return errs, (n_got / n_want if n_want else 1.0)


class Lake:
    """Keep-last-per-key oracle over the base events and the landed batches."""

    def __init__(self, inputs):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE landed AS "
            f"SELECT event_id, user_id, value, event_type, -1 AS b, 0 AS seq "
            f"FROM read_parquet('{inputs}/events.parquet') UNION ALL "
            "SELECT event_id, user_id, value, event_type, "
            "CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INTEGER) AS b, seq "
            f"FROM read_parquet('{inputs}/batches/*.parquet', filename = true)")
        self.states = set()

    def state(self, b):
        name = f"state_{b}"
        if b not in self.states:
            self.con.execute(
                f"CREATE TABLE {name} AS SELECT event_id, user_id, value, event_type FROM "
                f"(SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY b DESC, seq DESC) AS rn "
                f"FROM landed WHERE b <= {b}) WHERE rn = 1")
            self.states.add(b)
        return name

    def read(self, op):
        """Expected rows of one read op of the read mix."""
        s = self.state(op["batch"])
        kind = op["name"].rsplit(".", 1)[1]
        if kind == "point":
            q = f"SELECT * FROM {s} WHERE event_id = {op['key']}"
        elif kind == "range":
            q = f"SELECT * FROM {s} WHERE user_id BETWEEN {op['lo']} AND {op['hi']}"
        else:
            q = (f"SELECT event_type, count(*), sum(CAST(round(value * 100) AS BIGINT)), "
                 f"min(value), max(value) FROM {s} GROUP BY event_type")
        return self.con.execute(q).fetchall()

    def check_read(self, op):
        want = sorted(tuple(r) for r in self.read(op))
        got = sorted(tuple(r) for r in op["result"])
        return [] if got == want else [f"{op['name']} at batch {op['batch']}: {len(got)} rows "
                                       f"differ from the {len(want)} expected"]

    def check_final(self, path, last_batch):
        _load(self.con, "got", path)
        return compare(self.con, "got", self.state(last_batch))
