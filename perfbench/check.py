"""Output checks that do not use the code under test.

Pipeline outputs are compared, in DuckDB, with the rows the generator
expects; SPARQL results are compared with DuckDB SQL over the same
parquet files. Each check returns the set of operations (pages or
queries) it found wrong.
"""

from __future__ import annotations

import glob
import json
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from gen import RDF_TYPE, SCHEMA, Workload

_KEY = ("subj_kind", "subj", "pred", "obj_kind", "obj_lex", "obj_datatype",
        "obj_lang", "graph_kind", "graph")
# one canonical spelling for both sides, so DuckDB hashes equal rows equally
_ROW = ("part::BIGINT, subj_kind::INT, subj, pred, obj_kind::INT, obj_lex, "
        "obj_datatype, obj_lang, graph_kind::INT, graph, support::BIGINT, "
        "first_url")
_HAS_BNODE = "(subj_kind = 1 OR obj_kind = 1 OR coalesce(graph_kind, 0) = 1)"


class Expected:
    """The generator's expectations, staged as parquet for DuckDB."""

    def __init__(self, wl: Workload, tmp: str):
        self.wl = wl
        rows = wl.expected_rows()
        cols = ("part",) + _KEY + ("support", "first_url")
        self.rows_path = os.path.join(tmp, "expected_rows.parquet")
        pq.write_table(pa.table({c: [r[i] for r in rows]
                                 for i, c in enumerate(cols)}), self.rows_path)
        # page -> each of its expected rows, for attributing a mismatch
        pages, keys = [], {c: [] for c in _KEY}
        for url, triples in wl.page_triples.items():
            for s, p, ok, ol, od, olang, g in triples:
                pages.append(url)
                for c, v in zip(_KEY, (0, s, p, ok, ol, od, olang,
                                       None if g is None else 0, g)):
                    keys[c].append(v)
        self.pages_path = os.path.join(tmp, "expected_pages.parquet")
        pq.write_table(pa.table({"url": pages, **keys}), self.pages_path)
        self.n_rows = len(rows)


def _table(out_dir: str) -> str:
    return (f"read_parquet('{out_dir}/triples/*/*.parquet', "
            "hive_partitioning = true)")


def check_pipeline_output(con, exp: Expected, out_dir: str,
                          lineage: list[dict]) -> tuple[set[str], dict]:
    """Compare one PipelineRun output with the expectations.
    -> (urls of pages found wrong, summary)."""
    wl = exp.wl
    t = _table(out_dir)
    got = con.execute(
        f"SELECT count(*), sum(hash({_ROW})) FROM {t} WHERE NOT {_HAS_BNODE}"
    ).fetchone()
    want = con.execute(
        f"SELECT count(*), sum(hash({_ROW})) FROM '{exp.rows_path}'").fetchone()
    bnodes = con.execute(
        f"SELECT count(*) FROM {t} WHERE {_HAS_BNODE}").fetchone()[0]
    docs_failed = sum(b["docs_failed"] for b in lineage)
    docs_in = sum(b["docs_in"] for b in lineage)
    summary = {"rows": got[0] + bnodes, "rows_expected": exp.n_rows + wl.bnode_rows,
               "digest_ok": got == want, "bnode_rows": bnodes,
               "bnode_rows_expected": wl.bnode_rows, "docs_failed": docs_failed,
               "docs_failed_expected": wl.bad_blocks, "docs_in": docs_in}
    wrong: set[str] = set()
    if got != want:
        # pages whose expected triples are missing, and pages named as
        # first_url of rows nobody expected
        missing = con.execute(f"""
            SELECT DISTINCT e.url FROM '{exp.pages_path}' e
            ANTI JOIN (SELECT {', '.join(_KEY)} FROM {t}) g
            ON {' AND '.join(f'e.{c} IS NOT DISTINCT FROM g.{c}' for c in _KEY)}
        """).fetchall()
        extra = con.execute(f"""
            SELECT DISTINCT first_url FROM (
              SELECT {_ROW} FROM {t} WHERE NOT {_HAS_BNODE}
              EXCEPT ALL SELECT {_ROW} FROM '{exp.rows_path}')
        """).fetchall()
        wrong |= {r[0] for r in missing} | {r[0] for r in extra}
    if bnodes != wl.bnode_rows:
        per_page = dict(con.execute(
            f"SELECT first_url, count(*) FROM {t} WHERE {_HAS_BNODE} "
            "GROUP BY first_url").fetchall())
        wrong |= {u for u, n in wl.page_bnode_rows.items()
                  if per_page.get(u, 0) != n}
    if docs_failed != wl.bad_blocks or docs_in != len(wl.pages):
        wrong |= {u for u, n in wl.page_bad_blocks.items() if n}
    if not wrong and (got != want or bnodes != wl.bnode_rows
                      or docs_failed != wl.bad_blocks
                      or docs_in != len(wl.pages)):
        wrong = set(wl.page_triples)  # a mismatch no page explains
    return wrong, summary


def check_error_rows(wl: Workload, errors: list[tuple[str, str]]) -> set[str]:
    """Pages whose error-row count differs from their malformed blocks:
    a valid page with an error row, or a malformed one without."""
    got = Counter(url for url, _e in errors)
    return {u for u in wl.page_triples if got.get(u, 0) != wl.page_bad_blocks[u]}


def cross_bucket_dups(con, out_dir: str) -> int:
    """Rows written minus distinct triples over the whole table."""
    keys = ", ".join(_KEY)
    return con.execute(
        f"SELECT count(*) - (SELECT count(*) FROM (SELECT DISTINCT {keys} "
        f"FROM {_table(out_dir)})) FROM {_table(out_dir)}").fetchone()[0]


# ---------------------------------------------------------------- queries


def _q(name: str, sparql: str, sql: str) -> dict:
    return {"name": name, "sparql": sparql, "sql": sql}


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


class QueryMix:
    """The query mix: a constant-subject lookup, a subject star join,
    a predicate histogram, OPTIONAL+FILTER and a 2-hop path. Constants
    are drawn from the expected table, so every round compiles fresh
    query text. Each query's ``sql`` reads a view ``t`` of the written
    table."""

    def __init__(self, wl: Workload):
        self.people = bool(wl.people)
        self.hop = SCHEMA + ("knows" if self.people else "mentions")
        rows = wl.expected_rows()
        self.subjects = sorted({r[2] for r in rows})
        starts = {r[2] for r in rows if r[3] == self.hop and r[4] == 0}
        self.hop_starts = sorted(starts)

    def round(self, rng: random.Random) -> list[dict]:
        s1 = rng.choice(self.subjects)
        s2 = rng.choice(self.hop_starts)
        hop = self.hop
        if self.people:
            star_sparql = (f"SELECT ?s ?n ?a WHERE {{ ?s a <{SCHEMA}Person> ; "
                           f"<{SCHEMA}name> ?n ; <{SCHEMA}age> ?a . }}")
            star_sql = f"""
                SELECT a.subj, b.obj_lex, c.obj_lex FROM t a
                JOIN t b ON b.subj = a.subj AND b.pred = '{SCHEMA}name'
                JOIN t c ON c.subj = a.subj AND c.pred = '{SCHEMA}age'
                WHERE a.pred = '{RDF_TYPE}' AND a.obj_lex = '{SCHEMA}Person'"""
            age = rng.randrange(30, 85)
            opt_sparql = (f"SELECT ?s ?n ?e WHERE {{ ?s <{SCHEMA}name> ?n ; "
                          f"<{SCHEMA}age> ?a . OPTIONAL {{ ?s <{SCHEMA}email> ?e }} "
                          f"FILTER (?a > {age}) }}")
            opt_sql = f"""
                SELECT n.subj, n.obj_lex, e.obj_lex FROM t n
                JOIN t a ON a.subj = n.subj AND a.pred = '{SCHEMA}age'
                LEFT JOIN t e ON e.subj = n.subj AND e.pred = '{SCHEMA}email'
                WHERE n.pred = '{SCHEMA}name'
                  AND TRY_CAST(a.obj_lex AS DOUBLE) > {age}"""
        else:
            star_sparql = (f"SELECT ?s ?t ?n WHERE {{ ?s a ?t ; "
                           f"<{SCHEMA}name> ?n . }}")
            star_sql = f"""
                SELECT a.subj, a.obj_lex, b.obj_lex FROM t a
                JOIN t b ON b.subj = a.subj AND b.pred = '{SCHEMA}name'
                WHERE a.pred = '{RDF_TYPE}'"""
            letter = rng.choice("abcdefghijklmnopqrstuvwxyz")
            opt_sparql = (f"SELECT ?s ?n ?h WHERE {{ ?s <{SCHEMA}name> ?n . "
                          f"OPTIONAL {{ ?s <{SCHEMA}headline> ?h }} "
                          f"FILTER (STRSTARTS(?n, \"{letter}\")) }}")
            opt_sql = f"""
                SELECT n.subj, n.obj_lex, h.obj_lex FROM t n
                LEFT JOIN t h ON h.subj = n.subj AND h.pred = '{SCHEMA}headline'
                WHERE n.pred = '{SCHEMA}name' AND starts_with(n.obj_lex, '{letter}')"""
        return [
            _q("lookup", f"SELECT ?p ?o WHERE {{ <{s1}> ?p ?o }}",
               f"SELECT pred, obj_lex FROM t WHERE subj = {_lit(s1)}"),
            _q("star", star_sparql, star_sql),
            _q("histogram",
               "SELECT ?p (COUNT(?o) AS ?c) WHERE { ?s ?p ?o } GROUP BY ?p",
               "SELECT pred, count(obj_lex) FROM t GROUP BY pred"),
            _q("optional_filter", opt_sparql, opt_sql),
            _q("two_hop",
               f"SELECT ?b ?c WHERE {{ <{s2}> <{hop}> ?b . ?b <{hop}> ?c }}",
               f"""SELECT a.obj_lex, b.obj_lex FROM t a
                   JOIN t b ON b.subj = a.obj_lex AND b.pred = '{hop}'
                   WHERE a.subj = {_lit(s2)} AND a.pred = '{hop}'"""),
        ]


def _norm(rows) -> Counter:
    return Counter(tuple(None if v is None else str(v) for v in r) for r in rows)


def use_table(con, out_dir: str) -> None:
    """Point the view ``t`` the query SQL reads at one written table."""
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM {_table(out_dir)}")


def check_query(con, q: dict, got_rows) -> bool:
    """True when the SPARQL rows equal DuckDB's rows over ``t`` as
    multisets."""
    want = con.execute(q["sql"]).fetchall()
    return _norm(got_rows) == _norm(want)


def parquet_bytes(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``out_dir``."""
    total = files = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def read_lineage(out_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(out_dir, "_lineage", "*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out
