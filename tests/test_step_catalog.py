"""The step catalog (plans/steps.py) and the decisions read from it.

No JVM: the parser, `_validate_steps` and `G._point_shape` are pure
Python over the step tree.
"""

import ast
import inspect

import pytest
from hypothesis import given, settings

import grasper_spark.plans.steps as steps_mod
from grasper_spark import G
from grasper_spark.plans.compiler import GremlinCompiler
from grasper_spark.plans.parser import ParseError, _parse_step, parse_query, parse_steps
from grasper_spark.plans.prepared import FallbackEligible, _validate_steps
from grasper_spark.plans.steps import (
    BARRIER, BRANCH, FILTER, MAP, MODULATOR, MOVE, SIDE_EFFECT, SOURCE,
    STEPS, Step, bind_param, branch_key, nodes, param_slot, step_names,
)
from grasper_spark.plans.predicates import P
from tests.test_prepared_differential import point_shape

COMPILED = {n[len("_step_"):] for n in dir(GremlinCompiler) if n.startswith("_step_")}
PARSED = {n for n, r in STEPS.items() if r.parse or r.alias}


def test_every_step_name_has_exactly_one_row():
    # a dict literal keeps the last of two equal keys silently
    tree = ast.parse(inspect.getsource(steps_mod))
    table = next(
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.AnnAssign) and getattr(n.target, "id", "") == "STEPS"
    )
    keys = [k.value for k in table.keys]
    assert len(keys) == len(set(keys)) == len(STEPS)
    assert COMPILED <= set(STEPS) and PARSED <= set(STEPS)
    assert set(STEPS) == COMPILED | PARSED


def test_parser_accepts_exactly_the_parse_rows():
    for name, row in STEPS.items():
        try:
            _parse_step(f"{name}()")
        except ParseError as ex:
            unknown = "unknown step" in str(ex)
        except Exception:  # argument shape errors: the name was accepted
            unknown = False
        else:
            unknown = False
        assert unknown == (name not in PARSED), name
    with pytest.raises(ParseError, match="unknown step"):
        parse_query("g.V().bogus()")


def test_rows_are_consistent():
    kinds = {SOURCE, MOVE, FILTER, MAP, BARRIER, BRANCH, SIDE_EFFECT, MODULATOR}
    for name, row in STEPS.items():
        assert row.kind in kinds, name
        # modulators fold into a host and compile as part of it
        assert (row.kind == MODULATOR) == bool(row.hosts), name
        assert (row.kind == MODULATOR) == (name not in COMPILED and not row.alias), name
        assert all(h in COMPILED for h in row.hosts), name
        assert row.alias is None or STEPS[row.alias].parse, name
        # auto-prepare is a subset of explicit prepare
        assert not row.auto or row.prepare, name


def test_walker_and_param_helpers():
    tree = parse_query('g.V().has("name","x").union(out().count(), where(neq("a")))')
    assert list(step_names(tree)) == ["V", "has", "union", "out", "count", "where"]
    assert sum(n == "x" for n in nodes(tree) if isinstance(n, str)) == 1
    assert param_slot(tree[1]) == ("name", "x")
    assert param_slot(Step("hasId", (P.eq(7),))) == ("__id__", 7)
    assert param_slot(Step("has", ("age", P.gt(7)))) is None
    assert param_slot(tree[0]) is None
    assert bind_param(tree[1], "y") == Step("has", ("name", P.eq("y")))
    assert bind_param(Step("hasId", (P.eq(7),)), 8) == Step("hasId", (P.eq(8),))


# ---- prepare / auto-prepare decisions --------------------------------
#
# "parse": ParseError; "fallback": `_validate_steps` raises
# FallbackEligible (explicit prepare serves per query); "prepare": the
# grouped model takes it, `G._point_shape` does not; "auto": both do.

_HEAD = 'g.V().has("name","$RAND").'
_WRAPS = ("{}", "where({})", "union({})", 'choose(out("knows"), {}, in())')
_AUTO4 = ("auto",) * 4
_PREP4 = ("prepare",) * 4
_FALL4 = ("fallback",) * 4
_PARSE4 = ("parse",) * 4
#: barriers: top level served exactly, nested in union() out of model
_BARRIER4 = ("auto", "prepare", "fallback", "prepare")

#: (step snippet, decision at top level / in where() / union() / choose())
SNIPPETS = [
    ('V()', _AUTO4), ('E()', _AUTO4),
    ('has("age", 29)', _AUTO4), ('has("age", gt(29))', _AUTO4),
    ('hasId(1)', _AUTO4), ('hasNot("age")', _AUTO4), ('hasKey("age")', _AUTO4),
    ('hasValue(29)', _AUTO4), ('hasLabel("person")', _AUTO4), ('is(29)', _AUTO4),
    ('where(neq("a"))', _AUTO4), ('where(out())', _AUTO4),
    ('coin(0.5)', _AUTO4), ('sample(2)', _FALL4),
    ('out("knows")', _AUTO4), ('in("knows")', _AUTO4), ('both()', _AUTO4),
    ('outE("knows")', _AUTO4), ('inE("knows")', _AUTO4), ('bothE()', _AUTO4),
    ('outV()', _AUTO4), ('inV()', _AUTO4), ('bothV()', _AUTO4),
    ('values("age")', _AUTO4), ('label()', _AUTO4), ('key()', _AUTO4),
    ('properties("age")', _AUTO4), ('as("a")', _AUTO4), ('select("a")', _AUTO4),
    ('aggregate("x")', _FALL4),
    # the store alias is rewritten inside branch arguments too
    ('store("x")', _FALL4),
    ('cap("x")', _FALL4),
    ('count()', _BARRIER4), ('sum()', _BARRIER4), ('max()', _BARRIER4),
    ('min()', _BARRIER4), ('mean()', _BARRIER4), ('group()', _BARRIER4),
    ('group().by("age")', _BARRIER4), ('groupCount()', _BARRIER4),
    ('groupCount().by("age")', _BARRIER4), ('dedup()', _AUTO4),
    ('order()', _PREP4), ('order().by("age", decr)', _PREP4),
    ('range(0, 2)', _PREP4), ('limit(2)', _PREP4), ('skip(1)', _PREP4),
    ('tail(1)', _PREP4), ('union(out(), in())', _AUTO4),
    ('path()', _FALL4), ('path().by("name")', _FALL4),
    ('repeat(out()).times(2)', _PREP4),
    ('repeat(out()).until(hasLabel("software"))', _PREP4),
    ('repeat(out()).emit().times(2)', _PREP4),
    ('and(out(), in())', _AUTO4), ('or(out(), in())', _AUTO4),
    ('not(out())', _AUTO4), ('optional(out())', _AUTO4),
    ('choose(out("knows"), out(), in())', _AUTO4),
    ('project("a", "b").by("name").by()', _AUTO4),
    ('match(as("a").out().as("b"))', _AUTO4), ('coalesce(out(), in())', _AUTO4),
    ('id()', _AUTO4), ('valueMap()', _AUTO4), ('valueMap("age")', _AUTO4),
    ('elementMap()', _AUTO4), ('simplePath()', _FALL4), ('cyclicPath()', _FALL4),
    ('fold()', _BARRIER4), ('constant(1)', _AUTO4), ('inject(1)', _FALL4),
    ('dedup().count()', _BARRIER4), ('out().count()', _BARRIER4),
    ('as("a").out().in().where(neq("a")).dedup().count()', _BARRIER4),
    # a modulator with no host
    ('by("age")', _PARSE4), ('times(2)', _PARSE4),
    ('until(out())', _PARSE4), ('emit()', _PARSE4),
]

TEMPLATES = [
    # a barrier in a union() under another step is out of the grouped
    # model too: a parameter whose branch is empty loses its 0-row
    # aggregate
    (_HEAD + 'choose(out("knows"), union(out("knows").count()), '
     'union(in("knows").count()))', "fallback"),
    (_HEAD + 'where(union(out().count()))', "fallback"),
    (_HEAD + 'not(union(out().sum()))', "fallback"),
    (_HEAD + 'repeat(union(out().count())).times(1)', "fallback"),
    (_HEAD + 'optional(union(out().fold()))', "fallback"),
    (_HEAD + 'coalesce(union(out().groupCount()), in())', "fallback"),
    (_HEAD + 'match(as("a").union(out().count()).as("b"))', "fallback"),
    (_HEAD + 'project("a").by(union(out().count()))', "fallback"),
    # unchanged
    (_HEAD + 'union(union(out().count()))', "fallback"),
    (_HEAD + 'union(where(out().count()))', "fallback"),
    (_HEAD + 'and(union(out()), out().count())', "prepare"),
    (_HEAD + 'union(out()).count()', "auto"),
    (_HEAD + 'out().has("age", 29)', "auto"),
    (_HEAD + 'out().has("age", 29).has("name", "josh")', "prepare"),
    (_HEAD + 'out().hasId(3)', "auto"),
    ('g.V().hasId(1).out()', "auto"),
    ('g.V(1).out().values("name")', "auto"),
    ('g.V(1).count()', "auto"),
    ('g.V(1).has("name", "marko").out()', "auto"),
    ('g.V().out().has("name","$RAND")', "auto"),
    (_HEAD + 'has("age", within(29, 32))', "auto"),
    ('g.V().has("name", within("$RAND", "josh"))', "prepare"),
    (_HEAD + 'as("a").out().in().where(neq("a")).dedup().count()', "auto"),
    (_HEAD + 'out().coin(0.5).and(out().coin(0.3), coin(0.2))', "auto"),
    (_HEAD + 'has("age", true)', "parse"),
    (_HEAD + 'values("age").is(gt(30))', "auto"),
    ('g.E().has("weight", 0.5).outV()', "auto"),
    ('g.V().has("name", 1.5).out()', "auto"),
    ('g.V().hasLabel("person").has("name","$RAND")', "auto"),
    (_HEAD + 'union(out("knows"), in("knows")).dedup().values("name")', "auto"),
] + [
    (_HEAD + wrap.format(snippet), want)
    for snippet, wants in SNIPPETS
    for wrap, want in zip(_WRAPS, wants)
]


def _decide(steps) -> str:
    try:
        _validate_steps(steps)
    except FallbackEligible:
        return "fallback"
    return "auto" if G(None)._point_shape(steps) is not None else "prepare"


@pytest.mark.parametrize("template,want", TEMPLATES)
def test_prepare_decisions(template, want):
    try:
        steps = parse_query(template.replace('"$RAND"', '"marko"'))
    except ParseError:
        got = "parse"
    else:
        got = _decide(steps)
    assert got == want


@given(shape=point_shape())
@settings(max_examples=40, deadline=None, derandomize=True)
def test_differential_point_shapes_auto_prepare(shape):
    steps, _ = shape
    assert _decide(steps) == "auto"


def test_store_alias_parses_inside_branch_arguments():
    for wrap in _WRAPS[1:]:
        steps = parse_query("g.V()." + wrap.format('store("x")'))
        assert "aggregate" in step_names(steps) and "store" not in step_names(steps)


# ---- labelled-filter keys ---------------------------------------------
#
# The key `branch_key` picks for a snippet nested in or(…, …), and(…, …)
# and not(…): "inline" (one Column), "hop" (edge key column), "element"
# (the current element) or "tid" (per-traverser tag).

_ROW = ("inline",) * 3
_HOP3 = ("hop",) * 3
_EL3 = ("element",) * 3
_TID3 = ("tid",) * 3

KEYS = {
    'has("age", 29)': _ROW, 'has("age", gt(29))': _ROW, 'hasId(1)': _ROW,
    'hasNot("age")': _ROW, 'hasKey("age")': _ROW, 'hasLabel("person")': _ROW,
    'is(29)': _ROW, 'hasValue(29)': _EL3,
    'where(neq("a"))': _TID3, 'where(out())': _EL3,
    'coin(0.5)': _TID3, 'sample(2)': _TID3,
    'out("knows")': _HOP3, 'in("knows")': _HOP3, 'both()': _HOP3,
    'outE("knows")': _HOP3, 'inE("knows")': _HOP3, 'bothE()': _EL3,
    'outV()': _EL3, 'inV()': _EL3, 'bothV()': _EL3,
    'values("age")': _EL3, 'label()': _EL3, 'key()': _EL3,
    'properties("age")': _EL3, 'as("a")': _EL3, 'select("a")': _TID3,
    'aggregate("x")': _TID3, 'store("x")': _TID3, 'cap("x")': _TID3,
    'count()': _TID3, 'sum()': _TID3, 'max()': _TID3, 'min()': _TID3,
    'mean()': _TID3, 'group()': _TID3, 'group().by("age")': _TID3,
    'groupCount()': _TID3, 'groupCount().by("age")': _TID3, 'dedup()': _EL3,
    'dedup("a")': _TID3,
    'order()': _TID3, 'order().by("age", decr)': _TID3,
    'range(0, 2)': _TID3, 'limit(2)': _TID3, 'skip(1)': _TID3,
    'tail(1)': _TID3, 'union(out(), in())': _EL3,
    'path()': _TID3, 'path().by("name")': _TID3,
    'repeat(out()).times(2)': _TID3,
    'repeat(out()).until(hasLabel("software"))': _TID3,
    'repeat(out()).emit().times(2)': _TID3,
    'and(out(), in())': _EL3, 'or(out(), in())': _EL3,
    'not(out())': _EL3, 'optional(out())': _EL3,
    'choose(out("knows"), out(), in())': _EL3,
    'project("a", "b").by("name").by()': _EL3,
    'match(as("a").out().as("b"))': _TID3, 'coalesce(out(), in())': _EL3,
    'id()': _EL3, 'valueMap()': _EL3, 'valueMap("age")': _EL3,
    'elementMap()': _EL3, 'simplePath()': _TID3, 'cyclicPath()': _TID3,
    'fold()': _TID3, 'constant(1)': _EL3, 'inject(1)': _TID3,
    'dedup().count()': _TID3, 'out().count()': _TID3,
    'out().has("age", 29)': _EL3, 'out().coin(0.5)': _TID3,
    'has("age", 29).has("name", "josh")': _ROW,
}


@pytest.mark.parametrize("snippet", sorted(KEYS))
def test_branch_key_decisions(snippet):
    got = []
    for wrap in ('or({0}, {0})', 'and({0}, {0})', 'not({0})'):
        (st,) = parse_steps(wrap.format(snippet))
        got.append(branch_key(st.args))
    assert tuple(got) == KEYS[snippet]


def test_branch_key_mixed_sets_take_the_costlier_key():
    def key(q):
        (st,) = parse_steps(q)
        return branch_key(st.args)

    assert key('or(has("age", 29), out())') == "element"
    assert key('or(out("a"), out().has("age", 29))') == "element"
    assert key('or(out(), select("a"))') == "tid"
    assert key('and(out(), coin(0.5))') == "tid"
    assert key('and(has("age", 29), where(out().values("name").count()))') == "tid"


#: the "reads history or a side-effect store" column, pinned per step
READS = {"where": "always", "dedup": "labels", "dedupCount": "labels",
         "simplePath": "always", "cyclicPath": "always", "select": "always",
         "path": "always", "match": "always", "cap": "always"}


def test_reads_column():
    assert {n: r.reads for n, r in STEPS.items() if r.reads} == READS
