"""Correctness checks against the frozen pure-Python BM25 oracle.

Every failed check counts as one failed operation in the run's result.
"""

from __future__ import annotations

import math

from search_engine_spark.oracle.bm25_oracle import OracleIndex
from search_engine_spark.plans.query_ast import (
    And, Not, Or, Prefix, Word, compile_query,
)

# tests/test_rank_identity.py: the packed engine's float addition order
# differs from the oracle's, so scores agree to 1e-9 (rel and abs)
TOL = 1e-9
MAX_PREFIX_EXPANSIONS = 32  # PackedQueryEngine.MAX_PREFIX_EXPANSIONS


def scores_close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def _expand(oracle: OracleIndex, ast):
    """Prefix leaves -> OR of the highest-df dictionary terms (term asc on
    ties, at most 32), with optimize()'s dead-leaf collapse: the expanded
    OR the engine is specified to run."""
    if isinstance(ast, Prefix):
        terms = sorted(
            (t for t in oracle.postings
             if not t.startswith("@") and t.startswith(ast.prefix)),
            key=lambda t: (-len(oracle.postings[t]), t),
        )[:MAX_PREFIX_EXPANSIONS]
        if not terms:
            return None
        node = Word(terms[0], terms[0])
        for t in terms[1:]:
            node = Or(node, Word(t, t))
        return node
    if isinstance(ast, (And, Or)):
        left, right = _expand(oracle, ast.left), _expand(oracle, ast.right)
        if left is not None and right is not None:
            return type(ast)(left, right)
        return left if left is not None else right
    if isinstance(ast, Not):
        child = _expand(oracle, ast.child)
        return Not(child) if child is not None else None
    return ast


def oracle_scores(oracle: OracleIndex, query: str) -> list[tuple[int, float]]:
    """Every matching (doc_id, score), ranked (score desc, doc_id asc)."""
    ast = _expand(oracle, compile_query(query))
    if ast is None:
        return []
    return sorted(oracle._eval(ast).items(), key=lambda kv: (-kv[1], kv[0]))


def rank_identical(got: list[tuple[int, float]],
                   ranked: list[tuple[int, float]], k: int = 10) -> bool:
    """Same doc ids in the same order and scores within TOL: the check
    tests/test_rank_identity.py applies, for an index whose doc ids are the
    oracle's (a from-scratch build)."""
    exp = ranked[:k]
    return (len(got) == len(exp)
            and all(gd == ed and scores_close(gs, es)
                    for (gd, gs), (ed, es) in zip(got, exp)))


def rank_identical_by_url(got: list[tuple[str, float]], oracle: OracleIndex,
                          ranked: list[tuple[int, float]], k: int = 10) -> bool:
    """Rank identity for an appended/deleted index, whose doc ids differ
    from a fresh build of the survivors: the score sequence must match and
    every returned url must carry exactly its oracle score (so only docs
    tied on score may trade places)."""
    exp = ranked[:k]
    if len(got) != len(exp):
        return False
    by_url = {oracle.docs[d]["url"]: s for d, s in ranked}
    return (len({u for u, _ in got}) == len(got)
            and all(scores_close(gs, es) for (_, gs), (_, es) in zip(got, exp))
            and all(u in by_url and scores_close(s, by_url[u]) for u, s in got))
