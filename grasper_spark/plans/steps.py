"""The step catalog: one row per step name, holding the step's kind
and one flag per question the parser, the compiler or a prepared tier
asks of it (Grasper too checks every step in one io_type state machine,
core/parser.cpp:161-215, and sorts its experts by kind,
base/type.hpp:548-555). Also the ``Step`` AST node, the one walker over
step trees and the helper pair for a template's parameter slot.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any, Iterator, Optional

from grasper_spark.plans.predicates import Pred

SOURCE, MOVE, FILTER, MAP = "source", "move", "filter", "map"
BARRIER, BRANCH, SIDE_EFFECT, MODULATOR = "barrier", "branch", "side effect", "modulator"


@dataclass(frozen=True)
class Step:
    name: str
    args: tuple[Any, ...] = ()

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.name}({', '.join(map(repr, self.args))})"


@dataclass(frozen=True)
class StepInfo:
    kind: str
    #: the string parser accepts the name: Grasper's whitelist
    #: (core/parser.cpp:1496-1539) plus this engine's extensions
    parse: bool = True
    #: the parser rewrites the name to this step before any check sees
    #: it (TinkerPop store(x) is a lazily collected aggregate(x); in a
    #: batch DataFrame compilation both snapshot the stream there)
    alias: Optional[str] = None
    #: modulators: the steps it folds into when it follows one
    hosts: tuple[str, ...] = ()
    #: moves the traverser to a new location (path mode records it)
    path: bool = False
    #: may sit in a factored labelled-branch prefix: pure row-local
    #: traversals and filters. No side effects (aggregate/store), no
    #: draws (each branch's coin is its own draw; sample) and no
    #: barriers (order/range/limit), whose factoring could observe a
    #: different stream
    factor: bool = False
    #: a branch suffix of these is one boolean Column over the shared
    #: prefix (no stream-shape change): the single-pass flag path
    row_filter: bool = False
    #: draws randomness per traverser: identical traversers in a
    #: labelled branch need unique tids so each copy flips on its own
    draws: bool = False
    #: the grouped prepared materialization models it. False for steps
    #: that are not per-traverser (global side-effect stores, sample(n)'s
    #: global top-n, path recording): grouping by the parameter would
    #: silently change their meaning, so such templates fall back.
    #: coin(p) is preparable: its draw hashes the row's value and the
    #: history without the passenger, so each parameter's rows flip
    #: exactly as they do per query (compiler ``_step_coin``)
    prepare: bool = True
    #: a barrier whose EMPTY-group behavior differs between grouped and
    #: per-query execution: df.agg() on empty input yields one row
    #: (Grasper's COUNT barrier likewise emits 0 on an empty stream,
    #: expert/barrier_expert.hpp:442-490) while a grouped agg drops the
    #: group. At the top level the prepared layer serves the empty case
    #: exactly (``PreparedQuery._empty_rows``). Inside a union() branch
    #: it pools over the stream's group columns, not a per-traverser tag
    #: (compiler ``_step_union``), so a seen parameter whose branch is
    #: empty would lose the branch's 0-row aggregate: explicit prepare
    #: falls back, and auto-prepare takes barriers at the top level only.
    #: (coNeqDedupCount is fused only in a top-level per-query compile.)
    barrier: bool = False
    #: auto-prepare accepts it anywhere: its per-parameter grouped
    #: execution is indistinguishable from per-query execution (pure
    #: per-traverser semantics). Positional slices (limit/range/...) are
    #: excluded, as their arbitrary-pick tie-breaks may differ under
    #: grouping. coin(p) is a content-hashed per-traverser draw,
    #: identical under grouping
    auto: bool = False
    #: reads the traverser's history (as-labels, the recorded path) or a
    #: side-effect store: "always", "labels" (only when given labels,
    #: dedup("a")) or "" (never). A labelled filter whose branches read
    #: nothing of the kind depends on the current element alone
    #: (``branch_key``)
    reads: str = ""


_I = StepInfo
_MOVE = _I(MOVE, path=True, factor=True, auto=True)
_ROW_FILTER = _I(FILTER, factor=True, row_filter=True, auto=True)
_REDUCE = _I(BARRIER, barrier=True)
_BRANCH = _I(BRANCH, auto=True)

#: every step name: the parser's, the compiler's fused steps and aliases
STEPS: dict[str, StepInfo] = {
    "V": _I(SOURCE, path=True, auto=True),
    "E": _I(SOURCE, path=True, auto=True),
    "inject": _I(SOURCE, prepare=False),
    "out": _MOVE, "in": _MOVE, "both": _MOVE,
    "outE": _MOVE, "inE": _MOVE, "bothE": _MOVE,
    "outV": _MOVE, "inV": _MOVE, "bothV": _MOVE,
    "has": _ROW_FILTER, "hasId": _ROW_FILTER, "hasNot": _ROW_FILTER,
    "hasKey": _ROW_FILTER, "hasLabel": _ROW_FILTER, "is": _ROW_FILTER,
    "hasValue": _I(FILTER, factor=True, auto=True),
    "where": _I(FILTER, factor=True, auto=True, reads="always"),
    "dedup": _I(FILTER, factor=True, auto=True, reads="labels"),
    "coin": _I(FILTER, draws=True, auto=True),
    "sample": _I(FILTER, prepare=False),
    "range": _I(FILTER), "limit": _I(FILTER),
    "skip": _I(FILTER), "tail": _I(FILTER),
    "simplePath": _I(FILTER, factor=True, prepare=False, reads="always"),
    "cyclicPath": _I(FILTER, prepare=False, reads="always"),
    "values": _I(MAP, path=True, factor=True, auto=True),
    "label": _I(MAP, path=True, factor=True, auto=True),
    "key": _I(MAP, path=True, factor=True, auto=True),
    "properties": _I(MAP, path=True, auto=True),
    "select": _I(MAP, path=True, auto=True, reads="always"),
    "id": _I(MAP, auto=True), "valueMap": _I(MAP, auto=True),
    "elementMap": _I(MAP, auto=True), "project": _I(MAP, auto=True),
    "constant": _I(MAP, auto=True),
    "path": _I(MAP, prepare=False, reads="always"),
    "count": _REDUCE, "sum": _REDUCE, "max": _REDUCE, "min": _REDUCE,
    "mean": _REDUCE, "fold": _REDUCE, "group": _REDUCE, "groupCount": _REDUCE,
    "dedupCount": _I(BARRIER, parse=False, barrier=True, reads="labels"),
    "coNeqDedupCount": _I(BARRIER, parse=False),
    "order": _I(BARRIER),
    "union": _BRANCH, "and": _BRANCH, "or": _BRANCH, "not": _BRANCH,
    "optional": _BRANCH, "coalesce": _BRANCH, "choose": _BRANCH,
    "match": _I(BRANCH, auto=True, reads="always"),
    "repeat": _I(BRANCH),
    "as": _I(SIDE_EFFECT, auto=True),
    "aggregate": _I(SIDE_EFFECT, prepare=False),
    "store": _I(SIDE_EFFECT, parse=False, alias="aggregate", prepare=False),
    "cap": _I(SIDE_EFFECT, prepare=False, reads="always"),
    "by": _I(MODULATOR, hosts=("project", "group", "groupCount", "order", "path")),
    "times": _I(MODULATOR, hosts=("repeat",)),
    "until": _I(MODULATOR, hosts=("repeat",)),
    "emit": _I(MODULATOR, hosts=("repeat",)),
}


def nodes(tree: Any) -> Iterator[Any]:
    """Every node of a step tree in pre-order: the tree itself, then,
    through Steps, Preds, tuples and lists, everything they hold (branch
    sub-traversals, predicates and literals)."""
    yield tree
    if isinstance(tree, (Step, Pred)):
        tree = tree.args
    if isinstance(tree, (tuple, list)):
        for x in tree:
            yield from nodes(x)


def step_names(tree: Any) -> Iterator[str]:
    """The name of every Step in a step tree, nested ones included."""
    return (n.name for n in nodes(tree) if isinstance(n, Step))


def param_slot(st: Step) -> Optional[tuple[Any, Any]]:
    """(key, literal) when ``st`` can carry a template parameter, a
    ``has(key, eq(literal))`` or ``hasId(eq(literal))`` point filter
    (key ``"__id__"``, the element id column), else None."""
    if st.name == "has" and len(st.args) == 2:
        key, pred = st.args
    elif st.name == "hasId" and len(st.args) == 1:
        key, pred = "__id__", st.args[0]
    else:
        return None
    if isinstance(pred, Pred) and pred.op == "eq" and len(pred.args) == 1:
        return key, pred.args[0]
    return None


def bind_param(st: Step, value: Any) -> Step:
    """The :func:`param_slot` step ``st`` filtering on ``value``."""
    pred = Pred("eq", (value,))
    return replace(st, args=(pred,) if st.name == "hasId" else (st.args[0], pred))


#: the keys a labelled filter (and/or/not, where(t)) can decide its
#: branch set on, cheapest first (``branch_key``)
INLINE, HOP, ELEMENT, TAGGED = "inline", "hop", "element", "tid"
#: a bare hop's branch is "has an (L-labelled) edge on that side"
HOPS = ("out", "in", "both", "outE", "inE")


def reads_history(st: Step) -> bool:
    """Whether step ``st`` reads history or a side-effect store."""
    reads = STEPS[st.name].reads
    return reads == "always" or (reads == "labels" and bool(st.args))


def branch_key(branches: Any) -> str:
    """The cheapest exact key for a labelled filter's branch sets
    (Grasper's BRANCHFILTER tags every traverser instead,
    expert/labelled_branch_expert.hpp:184-289):

    - INLINE: every branch is a non-empty chain of row filters, so the
      whole and/or/not is one boolean Column over the stream
      (TinkerPop's InlineFilterStrategy);
    - HOP: every branch is one bare hop, so a vertex passes iff its id
      is in the label-filtered edge relation's src (or dst) column;
    - ELEMENT: every step, nested ones included, is per-traverser
      (``auto``), draws nothing and reads no history or store, so the
      outcome depends on the current element alone and the branches key
      on it;
    - TAGGED: otherwise, a per-traverser content-hash tid."""
    if all(b and all(STEPS[st.name].row_filter for st in b) for b in branches):
        return INLINE
    for n in nodes(branches):
        if isinstance(n, Step):
            row = STEPS[n.name]
            if row.draws or not row.auto or reads_history(n):
                return TAGGED
    if all(
        len(b) == 1 and b[0].name in HOPS and all(isinstance(a, str) for a in b[0].args)
        for b in branches
    ):
        return HOP
    return ELEMENT
