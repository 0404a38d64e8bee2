"""Parser for the Whistle-subset mapping-config language.

The reference executes mapping configs with an embedded Whistle ``Engine``
(MappingFn.java:156-192 loads the config once per JVM and fails fast on an
invalid config; MappingFnTest.java:52-56 uses the config
``out Output: Test(root); def Test(input) { foo: input.bar; }``).

We implement the subset those tests + the e2e corpus exercise, from scratch:

* ``out <Target>: <expr>;``            — append expr value to output[Target]
* ``def <Name>(<params>) { field: expr; ... }``   — projector definition
* nested target fields inside projectors (``meta.cat: expr;``) — built as
  nested objects, insertion-ordered, conflicts rejected at compile time;
  ``field!: expr;`` overwrites an earlier write at the same path (over a
  leaf the new value wins unless nil — writing nil is a no-op, making
  ``!`` in an if-block a conditional overwrite; over a subtree/append
  array it replaces outright)
* array-append target fields (``items[]: expr;``) — produced values
  accumulate in declaration order (missing appends nothing)
* ``var <name>: <expr>;`` bindings — at the top level (before ``out``
  statements) and at the top of projector bodies (before field mappings);
  each binding may reference params/``root`` and earlier vars
* ``if <cond> { fields } else { fields }`` blocks inside projector bodies —
  desugared at parse time into per-field ``$If``/``$Not`` conditionals
  (a field assigned in both branches merges into one ``$If(c, a, b)``;
  a branch-only field is omitted when its branch is not taken); nestable
* expressions: dotted paths (``input.bar.baz``), array element access
  (``input.items[0].name``), string/number/bool/null literals, projector
  calls (``Test(root)``, whose results may themselves be arguments to other
  projectors), array iteration (``Test(input.items[])`` — the projector
  maps over the array source element-wise, producing an array; a missing
  or non-array source yields missing), array construction (``[a, b, c]``
  — a missing element renders as JSON null, preserving positions), builtin
  calls (``$ToUpper/$ToLower/$StrCat/$Hash/$Trim/$SubStr/$ReformatTime/
  $ListCat/$Flatten/$Unique/$ListOf/$Type/$SortAndTakeTop/$UnionBy`` + the
  coercion/parsing/regex library — see ``BUILTINS``), conditionals and
  boolean logic (``$Eq``/``$NEq``/``$If``/``$Not``/``$And``/``$Or``,
  strict-boolean, canonical-JSON equality), ``root`` = whole input
* infix operators, desugared at parse time to the builtins above (so both
  backends inherit them unchanged): ``or`` < ``and`` < ``= ~= > < >= <=``
  (non-chaining comparisons) < ``+ -`` < ``* /`` < unary ``not``/``-`` <
  postfix ``expr?`` (existence, = ``$Not($IsNil(expr))``). ``+`` is the
  numeric ``$Sum`` (use ``$StrCat`` for strings); ``and``/``or``/``not``
  are reserved words in expression position
* ``required path: expr;`` fields — a nil (MISSING) value dead-letters the
  whole record as a RecoverableMappingError (the reference's unmappable-
  record semantics); a written JSON null counts as present. Not allowed on
  append/overwrite targets or inside if-blocks. The column backend checks
  required fields with row-level NULL conditions (still codegen) except
  inside iteration/filter lambdas, where the config falls back to pandas
* ``dest`` reads — inside a projector body, ``dest.path`` reads a field the
  SAME projector instance has already written (declaration order; reads of
  later/self fields are nil; bare ``dest`` is rejected — the output is
  still being built). ``dest`` is a reserved name for params/vars
* array filters ``path[where pred]`` — keep the elements of the array at
  ``path`` for which ``pred`` (with ``$`` bound to the element, e.g.
  ``i.items[where $.k > 2]``) is JSON true; missing/non-boolean predicates
  drop the element, a missing/non-array base is nil; filters chain but end
  the path (bind to a ``var`` to navigate the filtered result). Compiled
  to ``F.filter`` in the column backend — stays in codegen
* textproto root mappings (e2e corpus,
  src/test/resources/streaming/e2e/identical.mapping_config.textproto):
  ``root_mapping { value_source { from_source: "." } target_object: "t" }``
  meaning output[t] = [ value at from_source ] ('.' = entire input).

Parsing/validation errors raise :class:`MappingConfigError` at compile time —
the fail-fast contract of MappingFnTest.java:66-75. That includes every
builtin's literal arguments: ``LITERAL_ARGS`` is the one table of those
rules, checked once by ``MappingConfig._check`` for both backends.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class MappingConfigError(ValueError):
    """Invalid mapping config — raised at compile time, before any data."""


# ---------------------------------------------------------------- AST nodes
@dataclass(frozen=True)
class Lit:
    value: object  # str | int | float | bool | None


@dataclass(frozen=True)
class Path:
    var: str  # bound variable: 'root' or a projector param
    parts: tuple[str, ...]  # empty = the variable itself


@dataclass(frozen=True)
class Call:
    name: str
    args: tuple


@dataclass(frozen=True)
class Builtin:
    name: str  # '$ToUpper' | '$ToLower' | '$StrCat' | '$Hash'
    args: tuple


@dataclass(frozen=True)
class Arr:
    items: tuple


@dataclass(frozen=True)
class Iterate:
    """``path[]`` as a projector-call argument: map the projector over the
    array at ``path`` element-wise (Whistle array iteration). Only valid as
    a direct argument of a projector call."""

    path: Path


@dataclass(frozen=True)
class Where:
    """``base[where pred]`` — Whistle array filter. Keeps the elements of
    the array at ``base`` for which ``pred`` (evaluated with ``$`` bound to
    the element) is JSON true; a missing/non-boolean predicate drops the
    element; a missing/non-array base is nil. Filters chain
    (``a[where p][where q]``) but a filter ends the path — bind the result
    to a ``var`` to navigate further (e.g. with ``hits[*].name``)."""

    base: object
    pred: object


# builtin name -> (min_arity, max_arity or None = unbounded); the rules for
# literal arguments (patterns, delimiters, bounds, units) are LITERAL_ARGS
BUILTINS: dict[str, tuple[int, int | None]] = {
    "$ToUpper": (1, 1),
    "$ToLower": (1, 1),
    "$StrCat": (1, None),
    "$Hash": (1, 1),
    # conditionals: $Eq compares canonical JSON renderings; $If(cond, then[,
    # else]) takes the then-branch iff cond is JSON true (a missing else
    # omits the field); $Not(v) is true iff v is NOT JSON true (so a
    # missing/non-boolean condition negates to true — the else-branch
    # desugar target)
    "$Eq": (2, 2),
    "$If": (2, 3),
    "$Not": (1, 1),
    # n-ary strict-boolean logic: $And is true iff EVERY argument is JSON
    # true, $Or iff ANY is (a missing/non-boolean operand is simply not
    # true); $NEq is exactly `not $Eq` (a missing side is NOT equal)
    "$And": (2, None),
    "$Or": (2, None),
    "$NEq": (2, 2),
    # round-3 library growth (the builtins real harmonization configs lean
    # on): scalar coercion/parsing, string splitting/joining, regex
    # full-match, nil test, array length
    "$ToString": (1, 1),
    "$ParseInt": (1, 1),
    "$ParseFloat": (1, 1),
    "$StrSplit": (2, 2),
    "$StrJoin": (2, 2),
    "$MatchesRegex": (2, 2),
    "$IsNil": (1, 1),
    "$ListLen": (1, 1),
    # round-3 second wave: whitespace trim, python-slice substring
    # ($SubStr(v, start, end)), timestamp reformatting ($ReformatTime(v,
    # in_fmt, out_fmt) with Java-style patterns restricted to
    # yyyy/MM/dd/HH/mm/ss runs + separators), and array concatenation
    # ($ListCat(a, b, ...) over data arrays)
    "$Trim": (1, 1),
    "$SubStr": (3, 3),
    "$ReformatTime": (3, 3),
    "$ListCat": (2, None),
    # array library: one-level flatten (array elements spliced, everything
    # else — incl. JSON nulls — kept in place) and first-occurrence dedup
    # by canonical-JSON rendering (the $Eq equality)
    "$Flatten": (1, 1),
    "$Unique": (1, 1),
    # $ListOf builds an array from its arguments (exactly the `[a, b]`
    # literal semantics: a missing element holds its position as JSON
    # null); $Type names a value's JSON type (null/bool/number/string/
    # array/container, nil for missing); $SortAndTakeTop(arr, key, desc)
    # returns the single top element after a TOTAL order by the canonical
    # rendering of element[key] (ties broken by the whole element's
    # rendering; desc is "true"/"false"); $UnionBy(arr, k...)
    # dedups objects by the rendering tuple of one or more key fields,
    # keeping first occurrences
    # deep merge, left to right: object ∧ object merges recursively (left's
    # key order, right's new keys appended); a shape change (object vs
    # non-object) replaces outright; leaf over leaf the RIGHT side wins
    # unless it is nil (the writing-nil-is-a-no-op rule, $IsNil's nil set).
    # A missing argument is the identity. The column backend merges
    # projector results statically (node∧node recursion, scalar-typed leaf
    # conflicts); variant leaf conflicts and data-derived arguments fall
    # back to pandas, where runtime objects merge recursively.
    "$MergeJSON": (2, None),
    "$ListOf": (0, None),
    "$Type": (1, 1),
    "$SortAndTakeTop": (3, 3),
    "$UnionBy": (2, None),
    # processing-time stamp rendered with a pattern from the same subset;
    # reads the engine's injected clock (apply_mapping(clock=...))
    # for determinism — without an injected clock each backend uses its own
    # query/batch "now", which is processing time and inherently non-
    # reproducible
    "$CurrentTime": (1, 1),
    # arithmetic + ordering over the portable numeric envelope (see
    # mapping_compile._num_out): operands coerce like VARIANT's double cast
    # (numbers, numeric strings, booleans->1/0; null/containers are nil),
    # results render as integers when integral (|x| <= 2^53) or as plain
    # decimals in [1e-3, 1e7) — outside that, nil (the two backends'
    # float renderings stop agreeing there, so the envelope IS the spec)
    "$Sum": (2, None),
    "$Sub": (2, 2),
    "$Mul": (2, None),
    "$Div": (2, 2),
    "$Gt": (2, 2),
    "$Lt": (2, 2),
    "$Gte": (2, 2),
    "$Lte": (2, 2),
    # library close-out wave — the remaining deterministic builtins from the
    # public Whistle library (mapping-engine builtins.go; $UUID is excluded
    # as inherently non-deterministic):
    # $Mod(a, b): IEEE remainder with the dividend's sign (SQL % / C fmod);
    #   zero divisor is nil. $IsNotNil is exactly `not $IsNil`. $Void
    #   evaluates to nil regardless of arguments (the field is omitted) —
    #   the library's explicit "write nothing" marker.
    "$Mod": (2, 2),
    "$IsNotNil": (1, 1),
    "$Void": (0, None),
    # $IntHash(v): deterministic 52-bit integer fingerprint — the first 13
    #   hex digits of sha256 over the value's canonical JSON rendering,
    #   read base-16 (52 bits keeps it inside the portable integer
    #   envelope, |x| <= 2^53). $DebugString(v): the canonical JSON text
    #   itself (strings keep their quotes).
    "$IntHash": (1, 1),
    "$DebugString": (1, 1),
    # $StrFmt(fmt, args...): printf-style with a %s-only subset (plus %%);
    #   each %s takes the argument's JSON-scalar string form; a nil
    #   argument nils the whole result (concat null-propagation).
    "$StrFmt": (2, None),
    # time library, all over the $ReformatTime pattern subset:
    # $ParseTime(fmt, t) parses t and renders the ISO form
    #   yyyy-MM-dd'T'HH:mm:ss; $ParseUnixTime(unit, ts, fmt, tz) renders an
    #   integral epoch value (unit "s"|"ms", tz "UTC" only) with fmt;
    #   $SplitTime(fmt, t) yields the six zero-padded components
    #   [yyyy, MM, dd, HH, mm, ss] as strings; $TimeAdd(t, fmt, n, unit)
    #   adds n units (years/months/days/hours/minutes/seconds, month
    #   arithmetic clamps at month end like SQL intervals) and
    #   renders back through fmt. Results landing outside years 1000-9999
    #   are nil (the backends' year renderings stop agreeing there).
    "$ParseTime": (2, 2),
    "$ParseUnixTime": (4, 4),
    "$SplitTime": (2, 2),
    "$TimeAdd": (4, 4),
    # $UnnestArrays(obj): object -> [{k, v}] pairs, one per array element
    #   (non-array fields yield a single pair); data-derived objects carry
    #   canonically sorted keys. Runtime-shaped, so it runs in pandas.
    "$UnnestArrays": (1, 1),
    # $UUID(): random RFC-4122 v4 id — the library's ONLY nondeterministic
    #   builtin, excluded from the oracle/fuzz parity gates by nature;
    #   pandas-only (the column backend declines so `auto` falls back —
    #   a nondeterministic leaf would also poison the CSE transform wrap)
    "$UUID": (0, 0),
}

# Java-pattern tokens the $ReformatTime subset supports, with their strftime
# translations. The subset is the intersection where Spark's corrected
# DateTimeFormatter parser and Python's strptime/strftime agree byte-for-byte
# (two-digit zero-padded fields, four-digit year) — the pandas backend
# additionally round-trips the parsed value through the input format so a
# sloppy form strptime would accept (e.g. "2024-1-05" for MM) is rejected
# exactly like the strict Java parser rejects it.
_TIME_TOKENS = {
    "yyyy": "%Y",
    "MM": "%m",
    "dd": "%d",
    "HH": "%H",
    "mm": "%M",
    "ss": "%S",
}
_FULL_DATE = frozenset(("yyyy", "MM", "dd"))


def _time_translate(fmt) -> "tuple[str, frozenset] | None":
    """Java-style pattern -> (strftime pattern, token set); None when the
    pattern falls outside the supported subset (unknown letter runs,
    repeated fields — strptime rejects duplicate directives — or an
    unterminated quoted literal)."""
    if not isinstance(fmt, str) or not fmt:
        return None
    out: list[str] = []
    seen: set[str] = set()
    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c.isalpha():
            j = i
            while j < n and fmt[j] == c:
                j += 1
            tok = fmt[i:j]
            py = _TIME_TOKENS.get(tok)
            if py is None or tok in seen:
                return None
            seen.add(tok)
            out.append(py)
            i = j
        elif c == "'":
            # Java quoted literal ('T' in ISO patterns); '' = a literal quote
            j = fmt.find("'", i + 1)
            if j < 0:
                return None
            lit = fmt[i + 1 : j] or "'"
            out.append(lit.replace("%", "%%"))
            i = j + 1
        else:
            out.append("%%" if c == "%" else c)
            i += 1
    return "".join(out), frozenset(seen)


# $TimeAdd units -> position in make_interval(years, months, weeks, days,
# hours, mins, secs); the python backend mirrors months/years with
# clamp-at-month-end arithmetic and the rest with timedelta
_TIMEADD_UNITS = {
    "years": 0,
    "months": 1,
    "days": 3,
    "hours": 4,
    "minutes": 5,
    "seconds": 6,
}


def _strfmt_segments(fmt: str) -> "tuple[list[str | None], int] | None":
    """Split a $StrFmt pattern into literal segments and %s slots (None
    entries), with the slot count; %% escapes a percent. None for any other
    directive or a dangling '%': printf number formatting diverges between
    backends."""
    segs: list[str | None] = []
    buf: list[str] = []
    nslots = 0
    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c == "%":
            nxt = fmt[i + 1 : i + 2]
            if nxt == "%":
                buf.append("%")
            elif nxt == "s":
                segs.append("".join(buf))
                buf.clear()
                segs.append(None)
                nslots += 1
            else:
                return None
            i += 2
        else:
            buf.append(c)
            i += 1
    segs.append("".join(buf))
    return segs, nslots


def _regex(pat: str) -> "re.Pattern | None":
    """The compiled $MatchesRegex pattern; None when Python's re rejects it
    (the pandas backend could not run it, and Java-only syntax would
    diverge between backends)."""
    try:
        return re.compile(pat)
    except re.error:
        return None


# Literal-argument rules: each takes a literal argument's value and the
# call's whole argument tuple, and says what is wrong with the value (None
# when it is valid).
def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _string(v, args):
    return None if isinstance(v, str) else "must be a string"


def _nonempty_string(v, args):
    return None if isinstance(v, str) and v else "must be a non-empty string"


def _integer(v, args):
    return None if _is_int(v) else "must be an integer"


def _one_of(*choices):
    def rule(v, args):
        return None if v in choices else f"must be one of {list(choices)}"

    return rule


def _out_pattern(v, args):
    if _time_translate(v) is None:
        return (
            f"must be a time pattern over the tokens {sorted(_TIME_TOKENS)}, "
            "each at most once"
        )
    return None


def _in_pattern(v, args):
    # an input pattern without a full date would let the backends disagree
    # on defaulted fields (Spark defaults a missing date to 1970-01-01,
    # strptime to 1900-01-01)
    why = _out_pattern(v, args)
    if why is None and not _FULL_DATE <= _time_translate(v)[1]:
        return "is an input time pattern and must include yyyy, MM and dd"
    return why


def _substr_start(v, args):
    return None if _is_int(v) and v >= 0 else "must be an integer >= 0"


def _substr_end(v, args):
    # a literal start has passed _substr_start by now
    start = args[1].value if isinstance(args[1], Lit) else 0
    return None if _is_int(v) and v >= start else "must be an integer >= start >= 0"


def _strfmt_format(v, args):
    parsed = _strfmt_segments(v) if isinstance(v, str) else None
    if parsed is None:
        return "must be a string using only the %s and %% directives"
    if parsed[1] != len(args) - 1:
        return f"has {parsed[1]} %s slots for {len(args) - 1} arguments"
    return None


def _regex_pattern(v, args):
    if isinstance(v, str) and _regex(v) is not None:
        return None
    return "is an invalid pattern (Python's re must compile it)"


# The one table of literal-argument rules: builtin name -> one rule per
# argument position (None = any value; on a builtin of unbounded arity the
# last rule covers every further argument). MappingConfig._check applies it
# to every LITERAL argument, so both backends take a literal as valid. A
# data-derived argument is not checked: the column backend declines the
# call and the pandas backend evaluates a bad value to nil (false for
# $MatchesRegex).
LITERAL_ARGS: dict[str, tuple] = {
    "$SubStr": (None, _substr_start, _substr_end),
    "$ReformatTime": (None, _in_pattern, _out_pattern),
    "$ParseTime": (_in_pattern, None),
    "$SplitTime": (_in_pattern, None),
    "$TimeAdd": (None, _in_pattern, _integer, _one_of(*_TIMEADD_UNITS)),
    "$ParseUnixTime": (_one_of("s", "ms"), None, _out_pattern, _one_of("UTC")),
    "$CurrentTime": (_out_pattern,),
    "$StrFmt": (_strfmt_format, None),
    "$MatchesRegex": (None, _regex_pattern),
    "$StrSplit": (None, _nonempty_string),
    "$StrJoin": (_string, None),
    "$SortAndTakeTop": (None, _string, _one_of("true", "false")),
    "$UnionBy": (None, _string),
}


@dataclass(frozen=True)
class Projector:
    name: str
    params: tuple[str, ...]
    # (target_path, expr, append): append=True for ``path[]: expr`` fields,
    # which accumulate into an array in declaration order
    fields: tuple[tuple[tuple[str, ...], object, bool], ...]
    # ordered ``var name: expr;`` bindings, evaluated before the fields;
    # each may reference the params and earlier vars
    vars: tuple[tuple[str, object], ...] = ()
    # target paths declared ``required path: expr;`` — a nil value at any of
    # these dead-letters the whole record (RecoverableMappingError), the
    # reference's unmappable-record semantics. A written JSON null counts as
    # present; only a MISSING value triggers.
    required: tuple[tuple[str, ...], ...] = ()


def nest_fields(fields) -> dict:
    """Fold a projector's (target_path, expr, append, overwrite) list into
    an insertion-ordered nested tree: name -> ('leaf', expr) | ('node',
    subtree) | ('arr', [expr, ...]) for ``path[]`` append targets. A
    ``path!:`` entry (overwrite=True) overwrites an earlier entry at that
    exact path, keeping the original declaration position: over a LEAF the
    new value wins unless it evaluates to nil (writing nil is a no-op, so
    `!` inside an if-block is a conditional overwrite); over a subtree or
    an append array it replaces outright. Without ``!`` a duplicate target
    is a compile-time conflict. Raises MappingConfigError on duplicate or
    leaf-vs-prefix conflicts."""
    root: dict = {}
    for entry in fields:
        path, expr, append, overwrite = (
            *entry,
            *((False,) * (4 - len(entry))),
        )
        cur = root
        for seg in path[:-1]:
            node = cur.get(seg)
            if node is None:
                node = ("node", {})
                cur[seg] = node
            elif node[0] != "node":
                raise MappingConfigError(
                    f"target '{'.'.join(path)}' conflicts with earlier leaf '{seg}'"
                )
            cur = node[1]
        last = path[-1]
        prev = cur.get(last)
        if append:
            if prev is None:
                cur[last] = ("arr", [expr])
            elif prev[0] == "arr":
                prev[1].append(expr)
            else:
                raise MappingConfigError(
                    f"append target '{'.'.join(path)}[]' conflicts with an "
                    "earlier non-append field"
                )
        else:
            if prev is not None and not overwrite:
                raise MappingConfigError(
                    f"duplicate target field '{'.'.join(path)}' "
                    "(use 'field!:' to overwrite)"
                )
            if prev is not None and prev[0] == "leaf":
                # Whistle overwrite with writing-nil-is-a-no-op: the new
                # value wins unless it is nil, in which case the earlier
                # value stays — which makes `field!:` inside an if-block a
                # conditional overwrite for free. Expressed in the AST so
                # both backends inherit it.
                expr = Builtin(
                    "$If", (Builtin("$IsNil", (expr,)), prev[1], expr)
                )
            # overwriting a nested subtree or an append array replaces it
            # outright (there is no expr to fall back to)
            cur[last] = ("leaf", expr)
    return root


@dataclass
class MappingConfig:
    outs: list[tuple[str, object]] = field(default_factory=list)  # (target, expr)
    projectors: dict[str, Projector] = field(default_factory=dict)
    vars: list[tuple[str, object]] = field(default_factory=list)  # top-level

    def validate(self) -> "MappingConfig":
        if not self.outs:
            raise MappingConfigError("config defines no output (no 'out' or root_mapping)")
        # double-underscore names are reserved for engine-internal bindings
        # (the injected $CurrentTime clock travels in the evaluation env)
        reserved = [
            n
            for n in (
                [n for n, _ in self.vars]
                + [p for pr in self.projectors.values() for p in pr.params]
                + [n for pr in self.projectors.values() for n, _ in pr.vars]
            )
            if n.startswith("__") or n == "dest"
        ]
        if reserved:
            raise MappingConfigError(
                "names starting with '__' and the keyword 'dest' are "
                f"reserved: {sorted(set(reserved))}"
            )
        bound = ["root"]
        for name, vexpr in self.vars:
            self._check(vexpr, bound=tuple(bound))
            if name in bound:
                raise MappingConfigError(f"duplicate var binding '{name}'")
            bound.append(name)
        for tgt, expr in self.outs:
            self._check(expr, bound=tuple(bound))
        return self

    def _check(self, expr, bound: tuple[str, ...], _stack: frozenset = frozenset()) -> None:
        if isinstance(expr, Lit):
            return
        if isinstance(expr, Iterate):
            raise MappingConfigError(
                "iteration (path[]) is only valid as a projector-call argument"
            )
        if isinstance(expr, Path):
            if expr.var == "dest" and not expr.parts:
                raise MappingConfigError(
                    "bare 'dest' is not supported — read a written field "
                    "(dest.path); the whole output is still being built"
                )
            if expr.var not in bound:
                raise MappingConfigError(f"unbound variable '{expr.var}'")
            return
        if isinstance(expr, Call):
            proj = self.projectors.get(expr.name)
            if proj is None:
                raise MappingConfigError(f"unknown projector '{expr.name}'")
            if len(proj.params) != len(expr.args):
                raise MappingConfigError(
                    f"projector '{expr.name}' takes {len(proj.params)} args, got {len(expr.args)}"
                )
            for a in expr.args:
                # an Iterate argument contributes its inner path, bound in
                # the CALLER's scope; the callee sees a plain element value
                self._check(a.path if isinstance(a, Iterate) else a, bound, _stack)
            if expr.name in _stack:
                return  # recursive projector: body already being checked
            stack = _stack | {expr.name}
            nest_fields(proj.fields)  # nested-target conflicts fail at compile
            pbound = list(proj.params)
            for vname, vexpr in proj.vars:
                self._check(vexpr, bound=tuple(pbound), _stack=stack)
                if vname in pbound:
                    raise MappingConfigError(
                        f"var '{vname}' shadows a parameter or earlier var "
                        f"in projector '{expr.name}'"
                    )
                pbound.append(vname)
            # field expressions additionally see `dest` (the output under
            # construction); var bindings evaluate before any write, so
            # `dest` is NOT bound there
            for _, fexpr, *_flags in proj.fields:
                self._check(fexpr, bound=tuple(pbound) + ("dest",), _stack=stack)
            return
        if isinstance(expr, Builtin):
            spec = BUILTINS.get(expr.name)
            if spec is None:
                raise MappingConfigError(f"unknown builtin '{expr.name}'")
            lo, hi = spec
            if len(expr.args) < lo or (hi is not None and len(expr.args) > hi):
                raise MappingConfigError(
                    f"builtin '{expr.name}' arity mismatch: got {len(expr.args)}"
                )
            # fail-fast on literal arguments that can never be valid — the
            # MappingFn contract rejects a broken config at load, before
            # any data flows (MappingFn.java:156-192)
            rules = LITERAL_ARGS.get(expr.name, ())
            for pos, a in enumerate(expr.args):
                # arity is checked: only an unbounded builtin runs past its
                # rules, and there the last rule covers the rest
                rule = rules[min(pos, len(rules) - 1)] if rules else None
                why = rule(a.value, expr.args) if rule and isinstance(a, Lit) else None
                if why:
                    raise MappingConfigError(
                        f"{expr.name} argument {pos + 1} ({a.value!r}) {why}"
                    )
                self._check(a, bound, _stack)
            return
        if isinstance(expr, Arr):
            for it in expr.items:
                self._check(it, bound, _stack)
            return
        if isinstance(expr, Where):
            self._check(expr.base, bound, _stack)
            # the predicate additionally sees `$` = the array element
            self._check(expr.pred, tuple(bound) + ("$",), _stack)
            return
        raise MappingConfigError(f"unsupported expression node: {expr!r}")


# ---------------------------------------------------------------- tokenizer
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<number>\d+(?:\.\d+)?)
  | (?P<ident>[$]?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>~=|>=|<=|[=<>+\-/?$])
  | (?P<punct>[{}();:,.\[\]*!])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise MappingConfigError(f"unexpected character {text[pos]!r} at offset {pos}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "ws":
            toks.append((kind, m.group()))
    return toks


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind=None, value=None):
        k, v = self.next()
        if (kind and k != kind) or (value and v != value):
            raise MappingConfigError(f"expected {value or kind}, got {v!r}")
        return v

    # config := (var | out | def | root_mapping)*
    def parse_config(self) -> MappingConfig:
        cfg = MappingConfig()
        while self.peek()[0] != "eof":
            k, v = self.peek()
            if k == "ident" and v == "out":
                self.next()
                target = self.expect("ident")
                self.expect(value=":")
                expr = self.parse_expr()
                self.expect(value=";")
                cfg.outs.append((target, expr))
            elif k == "ident" and v == "var":
                self.next()
                name = self.expect("ident")
                self.expect(value=":")
                expr = self.parse_expr()
                self.expect(value=";")
                if cfg.outs:
                    raise MappingConfigError(
                        "top-level var bindings must precede out statements"
                    )
                cfg.vars.append((name, expr))
            elif k == "ident" and v == "def":
                self.next()
                name = self.expect("ident")
                self.expect(value="(")
                params = [self.expect("ident")]
                while self.peek()[1] == ",":
                    self.next()
                    params.append(self.expect("ident"))
                self.expect(value=")")
                self.expect(value="{")
                fields, pvars, reqs = self._parse_body(allow_vars=True)
                self.expect(value="}")
                cfg.projectors[name] = Projector(
                    name, tuple(params), tuple(fields), tuple(pvars), tuple(reqs)
                )
            elif k == "ident" and v == "root_mapping":
                self.next()
                target, src = self._parse_root_mapping_block()
                cfg.outs.append((target, _path_from_source(src)))
            else:
                raise MappingConfigError(f"unexpected token {v!r} (expected out/def/root_mapping)")
        return cfg.validate()

    def _parse_body(self, allow_vars: bool):
        """Projector-body statements up to (not consuming) the closing '}':
        optional leading ``var`` bindings, then field mappings (optionally
        ``required``-prefixed) and ``if`` blocks (desugared in place to
        conditional fields)."""
        fields: list = []
        pvars: list = []
        reqs: list = []
        while self.peek()[1] != "}":
            k, v = self.peek()
            if k == "eof":
                raise MappingConfigError("unterminated block (missing '}')")
            if k == "ident" and v == "var":
                self.next()
                vname = self.expect("ident")
                self.expect(value=":")
                vexpr = self.parse_expr()
                self.expect(value=";")
                if not allow_vars or fields:
                    raise MappingConfigError(
                        "var bindings must appear at the top of a projector body"
                    )
                pvars.append((vname, vexpr))
            elif k == "ident" and v == "if":
                fields.extend(self._parse_if_block())
            elif (
                k == "ident"
                and v == "required"
                and self.i + 1 < len(self.toks)
                and self.toks[self.i + 1][0] == "ident"
            ):
                # `required path: expr;` — keyword only when followed by a
                # field name (a field literally named `required` still works)
                self.next()
                fpath, fexpr, append, overwrite = self._parse_field()
                if append or overwrite:
                    raise MappingConfigError(
                        "'required' cannot combine with append ('[]') or "
                        "overwrite ('!') targets"
                    )
                if not allow_vars:
                    # inside an if-block body: conditionally-required fields
                    # have no coherent dead-letter semantics
                    raise MappingConfigError(
                        "'required' is not allowed inside if/else blocks"
                    )
                fields.append((fpath, fexpr, append, overwrite))
                reqs.append(fpath)
            else:
                fields.append(self._parse_field())
        return fields, pvars, reqs

    def _parse_field(self):
        fpath = [self.expect("ident")]
        while self.peek()[1] == ".":
            self.next()
            fpath.append(self.expect("ident"))
        append = False
        if self.peek()[1] == "[":  # `path[]:` array-append target
            self.next()
            self.expect(value="]")
            append = True
        overwrite = False
        if self.peek()[1] == "!":  # `path!:` — overwrite an earlier write
            if append:
                raise MappingConfigError(
                    "'!' cannot combine with an append target ('path[]!')"
                )
            self.next()
            overwrite = True
        self.expect(value=":")
        fexpr = self.parse_expr()
        self.expect(value=";")
        return (tuple(fpath), fexpr, append, overwrite)

    def _parse_if_block(self):
        self.expect(value="if")
        cond = self.parse_expr()
        self.expect(value="{")
        then_fields, _, _ = self._parse_body(allow_vars=False)
        self.expect(value="}")
        else_fields: list = []
        if self.peek() == ("ident", "else"):
            self.next()
            self.expect(value="{")
            else_fields, _, _ = self._parse_body(allow_vars=False)
            self.expect(value="}")
        return _desugar_if(cond, then_fields, else_fields)

    def _parse_root_mapping_block(self) -> tuple[str, str]:
        """textproto: root_mapping { value_source { from_source: "." } target_object: "x" }"""
        self.expect(value="{")
        target = src = None
        while self.peek()[1] != "}":
            key = self.expect("ident")
            if key == "value_source":
                self.expect(value="{")
                while self.peek()[1] != "}":
                    k2 = self.expect("ident")
                    self.expect(value=":")
                    v2 = self.expect("string")
                    if k2 == "from_source":
                        src = v2[1:-1]
                self.expect(value="}")
            elif key == "target_object":
                self.expect(value=":")
                target = self.expect("string")[1:-1]
            else:
                raise MappingConfigError(f"unknown root_mapping key {key!r}")
        self.expect(value="}")
        if target is None or src is None:
            raise MappingConfigError("root_mapping needs value_source.from_source and target_object")
        return target, src

    # Infix operator surface (Whistle's expression operators), desugared at
    # parse time to the builtin library so both backends inherit it with no
    # compiler changes:
    #   or  < and  < comparisons (= ~= > < >= <=, non-chaining)
    #       < + - (left-assoc, numeric envelope: $Sum/$Sub)
    #       < * / (left-assoc: $Mul/$Div)
    #       < unary (not E -> $Not, -E -> negated literal / $Sub(0, E))
    #       < postfix E? (existence: $Not($IsNil(E)))
    # expr := or
    def parse_expr(self):
        return self._parse_or()

    def _parse_or(self):
        args = [self._parse_and()]
        while self.peek() == ("ident", "or"):
            self.next()
            args.append(self._parse_and())
        return args[0] if len(args) == 1 else Builtin("$Or", tuple(args))

    def _parse_and(self):
        args = [self._parse_cmp()]
        while self.peek() == ("ident", "and"):
            self.next()
            args.append(self._parse_cmp())
        return args[0] if len(args) == 1 else Builtin("$And", tuple(args))

    _CMP_OPS = {
        "=": "$Eq",
        "~=": "$NEq",
        ">": "$Gt",
        "<": "$Lt",
        ">=": "$Gte",
        "<=": "$Lte",
    }

    def _parse_cmp(self):
        e = self._parse_add()
        k, v = self.peek()
        if k == "op" and v in self._CMP_OPS:
            self.next()
            e = Builtin(self._CMP_OPS[v], (e, self._parse_add()))
            k2, v2 = self.peek()
            if k2 == "op" and v2 in self._CMP_OPS:
                raise MappingConfigError(
                    f"comparison operators do not chain ('a {v} b {v2} c'); "
                    "parenthesize with $And"
                )
        return e

    def _parse_add(self):
        e = self._parse_mul()
        while self.peek()[0] == "op" and self.peek()[1] in ("+", "-"):
            _, v = self.next()
            rhs = self._parse_mul()
            e = Builtin("$Sum" if v == "+" else "$Sub", (e, rhs))
        return e

    def _parse_mul(self):
        e = self._parse_unary()
        while self.peek() in (("punct", "*"), ("op", "/")):
            _, v = self.next()
            rhs = self._parse_unary()
            e = Builtin("$Mul" if v == "*" else "$Div", (e, rhs))
        return e

    def _parse_unary(self):
        if self.peek() == ("ident", "not"):
            self.next()
            return Builtin("$Not", (self._parse_unary(),))
        if self.peek() == ("op", "-"):
            self.next()
            inner = self._parse_unary()
            if (
                isinstance(inner, Lit)
                and isinstance(inner.value, (int, float))
                and not isinstance(inner.value, bool)
            ):
                return Lit(-inner.value)
            return Builtin("$Sub", (Lit(0), inner))
        return self._parse_postfix()

    def _parse_postfix(self):
        e = self._parse_primary()
        while self.peek() == ("op", "?"):
            self.next()
            e = Builtin("$Not", (Builtin("$IsNil", (e,)),))
        return e

    # primary := '(' expr ')' | literal | array | builtin | call | path
    def _parse_primary(self):
        k, v = self.peek()
        if k == "punct" and v == "(":  # grouping
            self.next()
            e = self.parse_expr()
            self.expect(value=")")
            return e
        if k == "op" and v == "$":  # `$` = the element inside a [where] filter
            self.next()
            return self._parse_path("$")
        if k == "string":
            self.next()
            return Lit(_unescape(v[1:-1]))
        if k == "number":
            self.next()
            return Lit(float(v) if "." in v else int(v))
        if k == "punct" and v == "[":  # array construction
            self.next()
            items = []
            if self.peek()[1] != "]":
                items.append(self.parse_expr())
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.parse_expr())
            self.expect(value="]")
            return Arr(tuple(items))
        if k == "ident":
            if v in ("true", "false"):
                self.next()
                return Lit(v == "true")
            if v == "null":
                self.next()
                return Lit(None)
            self.next()
            if v.startswith("$"):  # builtin call
                self.expect(value="(")
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_expr())
                    while self.peek()[1] == ",":
                        self.next()
                        args.append(self.parse_expr())
                self.expect(value=")")
                return Builtin(v, tuple(args))
            if self.peek()[1] == "(":  # projector call
                self.next()
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_expr())
                    while self.peek()[1] == ",":
                        self.next()
                        args.append(self.parse_expr())
                self.expect(value=")")
                return Call(v, tuple(args))
            return self._parse_path(v)
        raise MappingConfigError(f"unexpected token {v!r} in expression")

    def _parse_path(self, varname: str):
        """Navigation segments after a bound variable: ``.field``, ``[n]``,
        ``[*]`` wildcards, a terminating ``[]`` iteration marker, or
        ``[where pred]`` filters (which end the path — chainable, but bind
        to a var to navigate into the filtered result)."""
        parts: list = []
        while self.peek()[1] in (".", "["):
            if self.peek()[1] == ".":
                self.next()
                parts.append(self.expect("ident"))
                continue
            self.next()  # '['
            nk, nv = self.peek()
            if nv == "]":  # `path[]` — iteration marker
                self.next()
                return Iterate(Path(varname, tuple(parts)))
            if nv == "*":  # `path[*]` — wildcard segment
                self.next()
                self.expect(value="]")
                parts.append("*")
                continue
            if (nk, nv) == ("ident", "where"):  # `path[where pred]` filter
                self.next()
                return self._parse_filters(Path(varname, tuple(parts)))
            num = self.expect("number")  # [n] — array element access
            if "." in num:
                raise MappingConfigError(
                    f"array index must be a non-negative integer, got {num!r}"
                )
            parts.append(int(num))
            self.expect(value="]")
        return Path(varname, tuple(parts))

    def _parse_filters(self, base):
        """One or more chained ``[where pred]`` filters ('where' of the
        first already consumed). ``$`` is bound to the element inside each
        predicate. A filter ends the path."""
        while True:
            pred = self.parse_expr()
            self.expect(value="]")
            base = Where(base, pred)
            if self.peek()[1] != "[":
                break
            self.next()
            if self.peek() != ("ident", "where"):
                raise MappingConfigError(
                    "a [where] filter ends the path — bind the result to a "
                    "var to navigate or index into it"
                )
            self.next()
        if self.peek()[1] == ".":
            raise MappingConfigError(
                "a [where] filter ends the path — bind the result to a var "
                "to navigate or index into it"
            )
        return base


def _desugar_if(cond, then_fields, else_fields):
    """Desugar an ``if cond { ... } else { ... }`` block into conditional
    field entries: then-only -> ``$If(c, e)``; a leaf assigned in BOTH
    branches merges into ``$If(c, a, b)`` at its then position; else-only
    -> ``$If($Not(c), e)``. Append targets never merge — each entry appends
    only when its branch is taken. Declaration order: then entries first,
    then the remaining else entries."""
    norm = lambda fs: [(*f, *((False,) * (4 - len(f)))) for f in fs]
    then_fields, else_fields = norm(then_fields), norm(else_fields)
    else_leaf = {p: (e, ow) for p, e, ap, ow in else_fields if not ap}
    merged: set = set()
    out = []
    for path, expr, append, ow in then_fields:
        if not append and path in else_leaf:
            e_expr, e_ow = else_leaf[path]
            out.append(
                (path, Builtin("$If", (cond, expr, e_expr)), False, ow or e_ow)
            )
            merged.add(path)
        else:
            out.append((path, Builtin("$If", (cond, expr)), append, ow))
    neg = Builtin("$Not", (cond,))
    for path, expr, append, ow in else_fields:
        if not append and path in merged:
            continue
        out.append((path, Builtin("$If", (neg, expr)), append, ow))
    return out


def _path_from_source(src: str) -> Path:
    if src == ".":
        return Path("root", ())
    parts: list = []
    for seg in src.split("."):
        if not seg:
            continue
        m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)((?:\[\d+\])*)", seg)
        if not m:
            raise MappingConfigError(f"bad from_source segment {seg!r}")
        parts.append(m.group(1))
        for idx in re.findall(r"\[(\d+)\]", m.group(2)):
            parts.append(int(idx))
    return Path("root", tuple(parts))


def _unescape(s: str) -> str:
    return s.encode().decode("unicode_escape")


def parse_mapping_config(text: str) -> MappingConfig:
    """Parse + validate a mapping config; raises MappingConfigError (fail-fast,
    mirroring MappingFn.java:156-192 / MappingFnTest.java:66-75)."""
    if not text or not text.strip():
        raise MappingConfigError("empty mapping config")
    return _Parser(_tokenize(text)).parse_config()
