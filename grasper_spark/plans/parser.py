"""Gremlin-subset string parser.

A from-scratch tokenizer/parser with the reference parser's surface
(core/parser.cpp): the step names it accepts are the catalog rows
flagged ``parse`` (plans/steps.py), predicate names at
parser.cpp:1541-1553, paren-matching step splitter GetSteps at
parser.cpp:442-493, literal typing rules at utils/tool.hpp:159-177 (int
if no '.', double with '.', quoted strings).

Produces the same Step AST the fluent API builds; compilation is shared.
"""

from __future__ import annotations

from typing import Any

from grasper_spark.plans.predicates import P, Pred
from grasper_spark.plans.steps import MODULATOR, STEPS, Step

PRED_NAMES = {
    "eq", "neq", "lt", "lte", "gt", "gte",
    "inside", "outside", "between", "within", "without",
    "containing", "notContaining", "startingWith", "endingWith",
}

# steps whose string args are python-reserved in the fluent API
_ALIASES = {
    "is_": "is", "in_": "in", "as_": "as", "and_": "and", "or_": "or",
    "not_": "not",
}


class ParseError(ValueError):
    pass


def _split_top(s: str, sep: str) -> list[str]:
    """Split on sep at paren/quote depth 0 (GetSteps-style matching)."""
    parts, depth, buf, i = [], 0, [], 0
    quote: str | None = None
    while i < len(s):
        c = s[i]
        if quote:
            buf.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            buf.append(c)
        elif c == "(":
            depth += 1
            buf.append(c)
        elif c == ")":
            depth -= 1
            if depth < 0:
                raise ParseError(f"unbalanced ')' in: {s}")
            buf.append(c)
        elif c == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        i += 1
    if depth != 0 or quote:
        raise ParseError(f"unbalanced parens/quotes in: {s}")
    parts.append("".join(buf).strip())
    return parts


def _parse_literal(tok: str) -> Any:
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
        return tok[1:-1]
    try:
        return int(tok)  # no '.' → int (utils/tool.hpp:159-177)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    raise ParseError(f"cannot type literal: {tok!r}")


def _parse_arg(tok: str) -> Any:
    tok = tok.strip()
    if tok.startswith("__."):
        tok = tok[3:]
    head = tok.split("(", 1)[0].strip()
    if "(" in tok and head in PRED_NAMES:
        inner = tok[tok.index("(") + 1 : tok.rindex(")")]
        args = [] if not inner.strip() else [_parse_literal(a) for a in _split_top(inner, ",")]
        return Pred(head, tuple(args))
    if "(" in tok and head in STEPS and (STEPS[head].parse or STEPS[head].alias):
        return tuple(parse_steps(tok))
    if tok in ("incr", "asc"):
        return ("ORDER", True)
    if tok in ("decr", "desc"):
        return ("ORDER", False)
    return _parse_literal(tok)


def _parse_step(tok: str) -> Step:
    if "(" not in tok:
        raise ParseError(f"malformed step: {tok!r}")
    name = tok.split("(", 1)[0].strip()
    name = _ALIASES.get(name, name)
    if name in STEPS and STEPS[name].alias:
        name = STEPS[name].alias
    if name not in STEPS or not STEPS[name].parse:
        raise ParseError(f"unknown step: {name!r}")
    inner = tok[tok.index("(") + 1 : tok.rindex(")")].strip()
    raw_args = [] if not inner else [_parse_arg(a) for a in _split_top(inner, ",")]
    # normalize per-step argument shapes
    if name == "order":
        key, asc = None, True
        for a in raw_args:
            if isinstance(a, tuple) and len(a) == 2 and a[0] == "ORDER":
                asc = a[1]
            else:
                key = a
        return Step("order", ((key, asc),))
    if name == "coalesce" and not raw_args:
        raise ParseError("coalesce: needs at least one branch")
    if name == "tail" and (len(raw_args) != 1 or not isinstance(raw_args[0], int)):
        raise ParseError("tail(n): takes exactly one integer")
    if name in ("id", "simplePath", "cyclicPath", "fold") and raw_args:
        raise ParseError(f"{name}() takes no arguments")
    if name == "constant" and len(raw_args) != 1:
        raise ParseError("constant(v): takes exactly one literal")
    if name in ("valueMap", "elementMap") and not all(
        isinstance(a, str) for a in raw_args
    ):
        raise ParseError(f"{name}() takes zero or more string property keys")
    if name in ("and", "or", "union", "match", "coalesce"):
        return Step(name, tuple(tuple(a) if isinstance(a, tuple) else a for a in raw_args))
    if name in ("not", "repeat", "optional"):
        return Step(name, (tuple(raw_args[0]),))
    if name == "choose":
        cond = raw_args[0] if isinstance(raw_args[0], Pred) else tuple(raw_args[0])
        return Step("choose", (cond, tuple(raw_args[1]), tuple(raw_args[2])))
    if name == "where" and len(raw_args) == 1 and isinstance(raw_args[0], tuple):
        # where(subquery) → and(subquery) (/root/reference/core/parser.cpp:1468-1474)
        return Step("and", (raw_args[0],))
    if name == "has" and len(raw_args) == 2 and not isinstance(raw_args[1], Pred):
        return Step("has", (raw_args[0], P.eq(raw_args[1])))
    if name == "hasId":
        if len(raw_args) == 1 and isinstance(raw_args[0], Pred):
            return Step("hasId", (raw_args[0],))
        if not raw_args:
            raise ParseError("hasId() takes ids or one predicate")
        # non-integer literals are legal and match nothing (ids are
        # bigint; the predicate kernel's class gate handles it) — the
        # TinkerPop behavior, and what template-marker substitution needs
        return Step(
            "hasId",
            (P.eq(raw_args[0]) if len(raw_args) == 1 else P.within(*raw_args),),
        )
    if name == "project":
        if not raw_args or not all(isinstance(a, str) for a in raw_args):
            raise ParseError("project() takes one or more string keys")
        if len(set(raw_args)) != len(raw_args):
            raise ParseError(f"project() keys must be distinct: {raw_args}")
        return Step("project", (tuple(raw_args), ()))
    return Step(name, tuple(raw_args))


def fold_modulator(prev: Step | None, name: str, args: tuple) -> Step:
    """Fold modulator ``name(*args)`` into ``prev``, the step before it:
    by() into one of its catalog hosts (project/group/groupCount/order/
    path), times/until/emit into repeat. Shared by the string parser
    and the fluent API."""
    hosts = STEPS[name].hosts
    if prev is None or prev.name not in hosts:
        raise ParseError(f"{name}() must follow {'/'.join(hosts)}")
    if name == "by":
        return _fold_by(prev, args)
    return _fold_repeat_mod(prev, name, args)


def _fold_by(prev: Step, args: tuple) -> Step:
    """Fold a by() modulator into its host step (TinkerPop-style)."""
    if prev.name == "project":
        keys, branches = prev.args
        if len(branches) >= len(keys):
            raise ParseError(f"project({keys}): more by() modulators than keys")
        if not args:  # bare by(): identity — the traverser's current value
            return Step("project", (keys, branches + (None,)))
        if len(args) != 1 or not isinstance(args[0], (str, tuple)):
            raise ParseError("project().by() takes a property key or a sub-traversal")
        return Step("project", (keys, branches + (args[0],)))
    if prev.name == "order":
        # each by() contributes one comparator; the bare order()'s
        # identity comparator is replaced by the first by(), further
        # by() calls append secondary sort keys (extension — the
        # reference sorts on one key)
        specs = list(prev.args)
        key, asc, asc_given = None, True, False
        for a in args:
            if isinstance(a, tuple) and len(a) == 2 and a[0] == "ORDER":
                asc, asc_given = a[1], True
            elif isinstance(a, (str, tuple)):
                key = a  # property key or sub-traversal
            else:
                raise ParseError(f"order().by() takes a key and/or incr|decr, got {a!r}")
        if len(specs) == 1 and specs[0][0] is None:
            base_asc = specs[0][1]
            specs = [(key, asc if asc_given else base_asc)]
        else:
            specs.append((key, asc))
        return Step("order", tuple(specs))
    if prev.name in ("group", "groupCount"):
        if len(args) != 1 or not isinstance(args[0], (str, tuple)):
            raise ParseError(
                f"{prev.name}().by() takes one property key or sub-traversal"
            )
        nslots = 2 if prev.name == "group" else 1
        slots = list(prev.args[:nslots]) + [None] * (nslots - len(prev.args[:nslots]))
        rest = tuple(prev.args[nslots:])  # trailing relational flag, if any
        for i in range(nslots):
            if slots[i] is None:
                slots[i] = args[0]
                return Step(prev.name, tuple(slots) + rest)
        raise ParseError(f"{prev.name}(): too many by() modulators")
    if prev.name == "path":
        if prev.args:
            raise ParseError("path(): at most one by() modulator")
        if len(args) != 1 or not isinstance(args[0], str):
            raise ParseError("path().by() takes one property key")
        return Step("path", (args[0],))


def _fold_repeat_mod(prev: Step, name: str, args: tuple) -> Step:
    """Fold a times/until/emit modulator into its preceding repeat step
    (normalized args: (branch, times, until, emit))."""
    a = prev.args
    branch = a[0]
    times = a[1] if len(a) > 1 else 1
    until = a[2] if len(a) > 2 else None
    emit = a[3] if len(a) > 3 else False
    if name == "times":
        if len(args) != 1 or not isinstance(args[0], int):
            raise ParseError("times(k): takes exactly one integer")
        times = args[0]
    elif name == "until":
        if len(args) != 1 or not isinstance(args[0], tuple):
            raise ParseError("until(): takes one sub-traversal")
        until = tuple(args[0])
    else:  # emit
        if args:
            raise ParseError("emit() takes no arguments")
        emit = True
    return Step("repeat", (branch, times, until, emit))


def parse_steps(chain: str) -> list[Step]:
    """Parse a dotted step chain like `out('knows').values('age')`."""
    toks = _split_top(chain.strip(), ".")
    steps: list[Step] = []
    for t in toks:
        if not t:
            continue
        st = _parse_step(t)
        if STEPS[st.name].kind == MODULATOR:
            prev = steps.pop() if steps else None
            steps.append(fold_modulator(prev, st.name, st.args))
        else:
            steps.append(st)
    return steps


def parse_query(query: str) -> list[Step]:
    """Parse a full query starting with `g.V()` / `g.E()`."""
    q = query.strip()
    if not q.startswith("g."):
        raise ParseError("query must start with 'g.' (parser.cpp:63-112 prefix check)")
    return parse_steps(q[2:])
