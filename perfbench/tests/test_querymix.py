from perfbench.querymix import CLASSES, QueryMix


def test_same_seed_same_mix():
    a, b = QueryMix(7, 20), QueryMix(7, 20)
    assert a.queries == b.queries and a.classes == b.classes
    assert a.fingerprint() == b.fingerprint()


def test_other_seed_other_mix():
    assert QueryMix(7, 20).queries != QueryMix(8, 20).queries


def test_every_round_holds_every_class():
    mix = QueryMix(3, 12)
    k = len(CLASSES)
    for r in range(12):
        assert tuple(mix.classes[r * k:(r + 1) * k]) == CLASSES
    assert all(abs(v - 1 / k) < 1e-12 for v in mix.shares().values())


def test_distinct_mix_has_no_repeats():
    mix = QueryMix(5, 100, distinct=True)
    assert len(mix.queries) == len(set(mix.queries))
    assert mix.classes.count("frozen") == 40


def test_generated_queries_parse_to_their_class():
    from search_engine_spark.plans.query_ast import (
        And, Not, Or, Phrase, Prefix, Word, compile_query,
    )

    kinds = {"head": Word, "tail": Word, "and": And, "or": Or,
             "phrase": Phrase, "not": And, "prefix": Prefix}
    mix = QueryMix(11, 30)
    for q, c in zip(mix.queries, mix.classes):
        ast = compile_query(q)
        if c == "stopword":
            assert ast is None, q
        elif c in kinds:
            assert isinstance(ast, kinds[c]), (q, c, ast)
            if c == "not":
                assert isinstance(ast.right, Not), q
