"""Expected answers (DuckDB, independent of the program) and output checks.

Every expected answer is computed outside the timed phase and cached per
seed. kg_build and serve_lookup reuse the repository's own DuckDB oracle
for the canonical triples (graft.pipeline.Kg.canonicalTriplesOracle, written
out by the harness); serve_lookup's per-query answers are SQL written here.

Order-independent digests: kg_build compares the count and the sum of
DuckDB's hash over the four columns; serve_lookup compares the LineDigest
of perfbench/Workloads.scala (line count plus the sum mod 2^64 of the
first 8 bytes of each line's MD5), computed here with hashlib.
"""

import hashlib

import duckdb

def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def line_digest(lines):
    total, n = 0, 0
    for line in lines:
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
        n += 1
    return n, str(total % (1 << 64))


def _kg_con(tables):
    con = _con()
    for t in ("events", "documents", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    return con


def kg_expected(tables, oracle_sql):
    con = _kg_con(tables)
    n, h = con.execute(
        "SELECT count(*), sum(hash(subj, pred, obj, graph))::VARCHAR "
        f"FROM ({oracle_sql})").fetchone()
    return {"triples": n, "hash": h}


def store_observed(store):
    con = _con()
    n, h = con.execute(
        "SELECT count(*), sum(hash(subj, pred, obj, graph))::VARCHAR FROM "
        f"read_parquet('{store}/triples/*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    return {"triples": n, "hash": h}


def count_term(n):
    """A COUNT in SPARQL results TSV: the bare integer form of xsd:integer."""
    return str(n)


def canon_parquet(tables, oracle_sql, out):
    """The oracle's canonical triples of `tables`, written to `out`."""
    _kg_con(tables).execute(f"COPY ({oracle_sql}) TO '{out}' (FORMAT parquet)")


def serve_expected(canon, queries):
    """Per query: the line digest (and, for ASK, the body) the server's
    response must carry, from the canonical triples in parquet `canon`."""
    con = _con()
    con.execute(f"CREATE TABLE canon AS SELECT * FROM read_parquet('{canon}')")
    mention = "<http://graft.io/p/mentions>"
    out = {}
    for q in queries:
        p, kind = q["params"], q["kind"]
        if kind == "select_graph":
            rows = con.execute("SELECT subj, pred, obj FROM canon WHERE graph = ?",
                               [p["graph"]]).fetchall()
            lines = ["\t".join(r) for r in rows]
        elif kind == "count_mentions":
            n = con.execute("SELECT count(*) FROM canon WHERE pred = ? AND obj = ?",
                            [mention, p["obj"]]).fetchone()[0]
            lines = [count_term(n)]
        elif kind == "ask":
            n = con.execute("SELECT count(*) FROM canon WHERE graph = ? AND "
                            "pred = ? AND obj = ?",
                            [p["graph"], mention, p["obj"]]).fetchone()[0]
            out[q["id"]] = {"lines": 0, "body": '{"head":{},"boolean":%s}'
                            % ("true" if n else "false")}
            continue
        else:
            rows = con.execute(
                "SELECT r.subj, x.obj FROM canon r JOIN canon x ON "
                "x.subj = r.subj AND x.graph = r.graph AND "
                "x.pred = '<http://graft.io/p/text>' WHERE r.graph = ? AND "
                "r.pred = '<http://graft.io/p/role>' AND r.obj = ?",
                [p["graph"], p["role"]]).fetchall()
            lines = [f"{t} <http://graft.io/p/said> {x} ." for t, x in rows]
        n, h = line_digest(lines)
        out[q["id"]] = {"lines": n, "digest": h}
    return out
