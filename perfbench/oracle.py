"""Expected results, computed once per input and outside any timed call.

Validation results come from DuckDB over an Arrow copy of the very docs
Spark validates, running the repository's own oracle SQL
(``valideer_spark.queries``), which the correctness gate already checks
against the Spark plans. The table-constraint results (duplicate doc ids,
orphan media refs) come from DuckDB over the same copy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Tuple

import duckdb
import pyarrow as pa

from valideer_spark import queries
from valideer_spark.flagship import MEDIA_REF_PATTERN

# the catalog side of the media referential check drops the refs of docs
# whose index is a nonzero multiple of 131 (sources/docs.py, class v6)
_V6_MODULUS = 131


class Mismatch(AssertionError):
    pass


def expect(ok: bool, what: str) -> None:
    """Raise :class:`Mismatch` (a wrong result) unless ``ok``."""
    if not ok:
        raise Mismatch(what)


@dataclass
class DocsExpected:
    n_docs: int
    n_valid: int
    by_constraint: Dict[str, int]  # violation rows per constraint

    @property
    def violation_rows(self) -> int:
        return sum(self.by_constraint.values())


def _docs_sql(template: str) -> str:
    """Point one of the gate's flagship oracle queries at the bench docs."""
    cte = queries._docs_cte()
    if not template.startswith(cte):
        raise RuntimeError("oracle SQL no longer starts with the synthetic docs CTE")
    return "WITH docs AS (SELECT doc_id, spans FROM bench_docs)" + template[len(cte):]


def _connect(docs: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("bench_docs", docs)
    return con


def expected_docs(docs: pa.Table) -> DocsExpected:
    con = _connect(docs)
    try:
        n_docs, n_valid = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE valid) FROM (%s)"
            % _docs_sql(queries.ORACLE_FLAGSHIP_DOC_VERDICTS)
        ).fetchone()
        by_constraint = dict(
            con.execute(_docs_sql(queries.ORACLE_FLAGSHIP_VIOLATION_METRICS)).fetchall()
        )
    finally:
        con.close()
    return DocsExpected(int(n_docs), int(n_valid), {k: int(v) for k, v in by_constraint.items()})


def expected_duplicates(docs: pa.Table) -> Dict[str, int]:
    con = _connect(docs)
    try:
        rows = con.execute(
            "SELECT doc_id, count(*) FROM bench_docs GROUP BY doc_id HAVING count(*) >= 2"
        ).fetchall()
    finally:
        con.close()
    return {k: int(v) for k, v in rows}


def expected_media_orphans(docs: pa.Table) -> Tuple[int, int]:
    """(distinct orphan refs, fact rows holding one). A ref is in the
    catalog unless it fails the media pattern or its doc is a v6 doc;
    refs are unique per (doc index, span), so no other doc can supply it."""
    con = _connect(docs)
    try:
        keys, rows = con.execute(
            f"""
            WITH refs AS (
              SELECT CAST(substr(doc_id, 5) AS BIGINT) AS i, s.media_ref AS r
              FROM (SELECT doc_id, unnest(spans) AS s FROM bench_docs)
            )
            SELECT count(DISTINCT r), count(*) FROM refs
            WHERE r IS NOT NULL
              AND (NOT regexp_full_match(r, '{MEDIA_REF_PATTERN.rstrip("$")}')
                   OR (i % {_V6_MODULUS} = 0 AND i <> 0))
            """
        ).fetchone()
    finally:
        con.close()
    return int(keys), int(rows)
