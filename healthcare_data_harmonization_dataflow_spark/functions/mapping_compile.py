"""Mapping-config compiler: two backends for the reference's Whistle engine.

The reference runs one heavyweight Whistle ``Engine`` per JVM and calls
``engine.transform(json)`` per record (MappingFn.java:212-225). We compile the
config ONCE at the driver into either:

1. **Catalyst VARIANT expressions** (`backend="columns"`, the default when the
   config is projective): every path access becomes
   ``try_variant_get(try_parse_json(data), '$.path', 'variant')`` and the
   output object is assembled with ``named_struct``/``array`` + ``to_json``.
   This keeps the entire per-record transform inside whole-stage codegen —
   zero Python in the hot path, which is how a 100 TB scan stays fast. Type
   fidelity (``{"foo":2}`` vs ``{"foo":"2"}``) is preserved because VARIANT
   carries the source JSON type end-to-end. Missing paths yield variant NULL,
   which ``to_json`` omits (Whistle nil-propagation for free).

2. **pandas/Arrow UDF** (`backend="pandas"`): the compiled closure is applied
   per element of an Arrow batch — never per-row Python over the wire. This is
   the fallback for configs outside the projective subset and the bit-exactness
   oracle for the column backend (tests assert both agree).

Compile-time validation is fail-fast (MappingFnTest.java:66-75: a garbage
config must fail before the pipeline starts).
"""

from __future__ import annotations

import re
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model.errors import RecoverableMappingError
from . import json_canon
from .json_canon import _MISSING


class _ProjDict(dict):
    """Marker for dicts BUILT BY A PROJECTOR in the python backend (vs
    data-derived dicts, which enter canon-sorted). $MergeJSON keeps declared
    key order when a projector result is involved (mirroring the column
    backend's static named_struct merge) but re-sorts a pure data∧data merge
    (mirroring the runtime variant merge, whose binary form sorts keys)."""
from .mapping_lang import (
    _FULL_DATE,
    _TIMEADD_UNITS,
    Arr,
    Builtin,
    Call,
    Iterate,
    Lit,
    MappingConfig,
    MappingConfigError,
    Path,
    Where,
    _is_int,
    _regex,
    _strfmt_segments,
    _time_translate,
    nest_fields,
    parse_mapping_config,
)


# the column apply_mapping binds the parsed input VARIANT to; the column
# backend's expressions read it
PARSED_COL = "_parsed"


class CompiledMapping:
    """A mapping config compiled for both execution backends."""

    def __init__(self, config_text: str):
        self.config_text = config_text
        self.config: MappingConfig = parse_mapping_config(config_text)
        self._py = _compile_python(self.config)
        # clock -> variant_columns() result, or the error that build raised
        self._columns: "dict[str | None, tuple[Column, Column] | Exception]" = {}

    # ---------------------------------------------------------- column backend
    def supports_columns(self, clock: str | None = None) -> bool:
        """Whether the config compiles to Catalyst expressions — the one
        :meth:`variant_columns` build for ``clock``, kept for reuse."""
        try:
            self.variant_columns(clock)
            return True
        except (MappingConfigError, RecursionError):
            # RecursionError: a recursive projector cannot unroll into a
            # static expression tree — data-driven recursion depth needs
            # the pandas backend
            return False

    def variant_columns(self, clock: str | None = None) -> "tuple[Column, Column]":
        """(output JSON Column, required-miss Column) over the parsed-input
        VARIANT column ``PARSED_COL``, built at most once per ``clock`` and
        only on first use: pandas workers compile configs with no
        SparkContext to build Columns in. ``clock`` is the injected
        processing-time instant $CurrentTime renders (ISO-8601 string);
        None = Spark's query-constant now.

        The second column is the dotted path of the FIRST
        declaration-ordered ``required`` field whose value is nil for the
        row (NULL when all present) — the caller routes such rows to the
        dead-letter branch instead of emitting the output. Both columns are
        plain expressions over the same root; the whole check stays inside
        whole-stage codegen.

        Raises MappingConfigError (or RecursionError) if the config is
        outside the projective subset; the failure is kept too, so a
        second call does not rebuild."""
        if clock not in self._columns:
            try:
                self._columns[clock] = self._build_columns(clock)
            except (MappingConfigError, RecursionError) as e:
                self._columns[clock] = e.with_traceback(None)
        got = self._columns[clock]
        if isinstance(got, Exception):
            raise got
        return got

    def _build_columns(self, clock: str | None) -> "tuple[Column, Column]":
        root = F.col(PARSED_COL)
        reg = _HoistRegistry()
        out, miss = self._compile_targets(root, clock, reg)
        hoists = reg.repeated()
        if hoists:
            # cross-field CSE (see _HoistRegistry): bind the repeated
            # subtrees once and re-compile the output over the bound struct;
            # the miss column keeps the pass-1 (standalone) expressions —
            # required checks are rare and cheap relative to the output
            hcols = [c.alias(f"__h{i}") for i, (_, c) in enumerate(hoists)]
            subst_keys = {k: i for i, (k, _) in enumerate(hoists)}

            def body(b):
                reg2 = _HoistRegistry(
                    subst={k: b[f"__h{i}"] for k, i in subst_keys.items()}
                )
                out2, _ = self._compile_targets(root, clock, reg2)
                return out2

            out = F.element_at(F.transform(F.array(F.struct(*hcols)), body), 1)
        return out, miss

    def _compile_targets(
        self, root: Column, clock: str | None, reg: "_HoistRegistry"
    ) -> "tuple[Column, Column]":
        env: dict[str, Any] = {
            "root": root,
            "__clock__": clock,
            "__req__": [],
            "__hoist__": reg,
        }
        for name, vexpr in self.config.vars:  # top-level var bindings
            env[name] = _compile_expr(self.config, vexpr, env)
        raw: dict[str, list] = {}
        for tgt, expr in self.config.outs:
            raw.setdefault(tgt, []).append(_compile_expr(self.config, expr, env))
        targets: dict[str, list[Column]] = {}
        for tgt, vals in raw.items():
            # multiple writes to one target build ONE F.array — whose
            # elements must share a SQL type. Mixed kinds (a projector
            # struct next to a string, or two differently-shaped structs)
            # would pass this lazy build and explode at ANALYSIS time
            # inside apply_mapping, breaking the backend='auto' fallback
            # contract — so reject them here, where supports_columns sees it
            if len(vals) > 1:
                kinds = {_render_kind(v) for v in vals}
                if len(kinds) > 1:
                    raise MappingConfigError(
                        f"column backend: out target '{tgt}' mixes value "
                        f"kinds {sorted(kinds)} (one array, one SQL type)"
                    )
            targets[tgt] = [_render(v) for v in vals]
        fields = []
        for tgt, items in targets.items():
            # Whistle appends only PRODUCED values to an out target: a
            # missing expression (SQL NULL) is skipped, while a JSON null
            # VALUE (variant-null, which is not SQL NULL) is kept — matching
            # the python backend's _MISSING-skip/None-keep split.
            fields.extend(
                [F.lit(tgt), F.filter(F.array(*items), lambda x: x.isNotNull())]
            )
        out = F.to_json(F.named_struct(*fields))
        miss = F.lit(None).cast("string")
        if env["__req__"]:
            miss = F.coalesce(
                *[F.when(cond, F.lit(p)) for p, cond in env["__req__"]], miss
            )
        return out, miss

    # ---------------------------------------------------------- python backend
    def transform(self, data: str, clock: str | None = None) -> str:
        """Per-record JSON->JSON (the ``engine.transform`` analogue).

        Raises :class:`RecoverableMappingError` on malformed input JSON — a
        data problem the caller (mapping operator) converts into an
        ErrorEntry, mirroring MappingFnTest.java:77-103 (bad input -> no
        output + one error). Any OTHER exception is an engine problem and
        propagates, per the reference's fatal-vs-recoverable classification
        (ErrorEnabledDoFn.java:75-77).
        """
        try:
            obj = json_canon.loads(data)
        except ValueError as e:
            raise RecoverableMappingError(f"invalid input JSON: {data}") from e
        return json_canon.dumps(self._py(obj, clock))


# ------------------------------------------------------------------ internals
# column backend: expr -> JValue, one of
#   * a VARIANT Column (data-derived values and literals)
#   * _StrCol        (a plain STRING Column — builtin results)
#   * _StructVal     (a statically-known object tree — projector results)


class _StructVal:
    def __init__(self, tree: dict):
        self.tree = tree  # name -> ('leaf', JValue) | ('node', subtree)


class _StrCol:
    def __init__(self, col: Column):
        self.col = col


class _BoolCol:
    """A plain BOOLEAN Column ($Eq results; renders as JSON true/false)."""

    def __init__(self, col: Column):
        self.col = col


def _null_variant() -> Column:
    return F.lit(None).cast("variant")


def _num_variant(col: Column) -> Column:
    """A numeric Column as a VARIANT value (renders without quotes); NULL
    stays NULL (missing)."""
    return F.try_parse_json(col.cast("string"))


def _lit_str(node, what: str) -> str:
    """Builtin arguments that must be compile-time string literals in the
    column backend (delimiters, regex and time patterns — they parameterize
    the EXPRESSION, not the data); non-literals fall back to pandas. A
    literal has passed the parser's LITERAL_ARGS rules already."""
    if isinstance(node, Lit) and isinstance(node.value, str):
        return node.value
    raise MappingConfigError(
        f"column backend: {what} must be a string literal"
    )


def _lit_int(node, what: str) -> int:
    """Builtin arguments that must be compile-time integer literals in the
    column backend (substring bounds parameterize the expression)."""
    if isinstance(node, Lit) and _is_int(node.value):
        return node.value
    raise MappingConfigError(
        f"column backend: {what} must be an integer literal"
    )


def _render_kind(v) -> str:
    """Coarse SQL-type class of a compiled value's rendering, for
    same-array compatibility checks: projector structs carry their SHAPE
    (two different field sets are two different struct types)."""
    if isinstance(v, _StructVal):
        def shape(tree):
            return tuple(
                (k, shape(sub[1]) if sub[0] == "node" else sub[0])
                for k, sub in tree.items()
            )

        return f"struct{shape(v.tree)!r}"
    if isinstance(v, _StrCol):
        return "string"
    if isinstance(v, _BoolCol):
        return "bool"
    if isinstance(v, _ArrCol):
        return f"array<{v.elem}>"
    if isinstance(v, _StrArr):
        return "array<string>"
    return "variant"


# epoch-seconds bound keeping results inside years 1970-9999, where the two
# backends' renderings agree ($ParseUnixTime rejects values outside it)
_EPOCH_SECS_MAX = 253402300799  # 9999-12-31T23:59:59


_LAMBDA_VAR = __import__("re").compile(r"\bx_\d+\b")


def _norm_expr_key(s: str) -> str:
    """Normalize an expression string into a CSE key: fresh lambda-variable
    ids (x_N) are masked so structurally-equal trees compare equal — but
    ONLY outside single-quoted literals. Data field names like `x_1`/`x_2`
    appear inside quoted path literals ('$.x_1'); masking them too would
    conflate DISTINCT source paths into one hoist key and silently emit the
    same value for different fields."""
    parts = s.split("'")
    # Even indices are outside quotes (expression text), odd are literal
    # content. Spark's toString does not escape quotes inside literals, so
    # a literal CONTAINING a quote shifts segment parity: literal text can
    # land at an even index and get masked, letting two expressions that
    # differ only in such a literal share one key. The quote-count suffix
    # below separates keys whose quoting structure differs; the residual
    # case (same quote count, literals differing only in x_<digits> tokens
    # after a parity shift) stays value-equivalent because hoist candidates
    # are timestamp/numeric parses that render such garbage literals as
    # NULL under either key's hoisted column.
    masked = "'".join(
        _LAMBDA_VAR.sub("x_#", seg) if i % 2 == 0 else seg
        for i, seg in enumerate(parts)
    )
    return f"{masked}#q{len(parts) - 1}"


class _HoistRegistry:
    """Cross-field common-subexpression elimination for the column backend.

    Variant projections run outside whole-stage codegen (no Catalyst CSE),
    so the same expensive subtree compiled into several fields — e.g. three
    time builtins parsing the same timestamp string — evaluates once PER
    FIELD per row. The compiler makes two passes: pass 1 registers each
    candidate (timestamp parses, numeric coercions) under a NORMALIZED
    expression-string key (lambda variable ids x_N are fresh per
    construction, so they are masked); pass 2 re-compiles with the repeated
    candidates substituted by references into a struct of hoisted columns
    bound once via _let at the top of the output expression. Only maximal
    repeated trees are kept (a repeated subtree contained in a hoisted one
    rides along). Hoisting is disabled inside lambda scopes (iteration /
    [where] predicates): a hoisted column must be a row-level expression.

    Known limitation: a ``var``-bound expensive expression referenced by
    several fields registers only ONE visit (the binding compiles once;
    references reuse the Column object, textually duplicating it), so var
    reuse is not yet deduplicated — hoisting it needs visits at the Path
    reference sites plus wrapper-preserving substitution.
    """

    def __init__(self, subst: "dict[str, Column] | None" = None):
        self.subst = subst
        self.seen: "dict[str, tuple[int, Column]]" = {}

    def visit(self, col: Column) -> Column:
        # `_jc` is the classic-API JVM column handle; Spark Connect columns
        # don't carry one. Without a stable expression string there is no
        # CSE key, so hoisting is skipped (correctness is unaffected — the
        # subtree just re-evaluates per field, as it would without CSE).
        if not hasattr(col, "_jc"):
            return col
        key = _norm_expr_key(col._jc.toString())
        if self.subst is not None:
            repl = self.subst.get(key)
            return repl if repl is not None else col
        cnt, _ = self.seen.get(key, (0, col))
        self.seen[key] = (cnt + 1, col)
        return col

    def repeated(self) -> "list[tuple[str, Column]]":
        items = [(k, c) for k, (n, c) in self.seen.items() if n >= 2]
        items.sort(key=lambda kc: -len(kc[0]))  # longest (outermost) first
        kept: "list[tuple[str, Column]]" = []
        # containment compares the masked expression text only — the
        # "#q<n>" quote-count suffix would otherwise stop an inner subtree
        # key from matching inside its enclosing tree's key
        body = lambda k: k.rsplit("#q", 1)[0]
        for k, c in items:
            if not any(body(k) in body(kk) for kk, _ in kept):
                kept.append((k, c))
        return kept


def _hoist(env, col: Column) -> Column:
    """Register ``col`` as a CSE candidate (or substitute it in pass 2).
    A no-op when no registry is active — lambda scopes and the pandas
    backend never see one."""
    reg = (env or {}).get("__hoist__")
    return col if reg is None else reg.visit(col)


def _let(col: Column, fn) -> Column:
    """Bind ``col`` ONCE and build an expression over the bound value:
    single-element ``array`` + ``transform`` + ``element_at`` — the only
    let-binding the Column API offers. The variant-expression trees this
    compiler emits duplicate their inputs heavily (a numeric render
    references its operand ~6 times, a time render its parsed timestamp up
    to 7), and VARIANT projections run WITHOUT whole-stage-codegen
    subexpression elimination, so every textual duplicate re-evaluates.
    Binding collapses that multiplicative blow-up to one evaluation per
    row (measured 2-5x on the time/arithmetic builtins at sf0.1)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


# Static unroll depth for the runtime variant deep merge. The python
# backend recurses without bound; data nested deeper than this raises at
# runtime (honest failure) instead of silently diverging. FHIR-ish payloads
# are < 10 levels in practice; each level adds O(1) expression nodes, so a
# generous bound is cheap.
_MERGE_DEPTH = 12


def _variant_nil(v: Column) -> Column:
    """True iff the variant is Whistle-nil: JSON null, '' or []. NULL-safe
    (each probe coalesces to False; a non-matching type probe yields NULL)."""
    return (
        F.coalesce(F.schema_of_variant(v) == "VOID", F.lit(False))
        | F.coalesce(F.try_variant_get(v, "$", "string") == "", F.lit(False))
        | F.coalesce(
            F.size(F.try_variant_get(v, "$", "array<variant>")) == 0,
            F.lit(False),
        )
    )


def _vmerge(a: Column, b: Column, depth: int = _MERGE_DEPTH) -> Column:
    """Runtime deep merge of two VARIANT values — the column-backend twin of
    the python backend's $MergeJSON ``_mj`` for DATA-derived arguments:

    * missing (SQL NULL) on either side yields the other;
    * object ∧ object merges key-wise (``map_zip_with`` over the
      ``map<string,variant>`` casts — key union, recursion per conflict);
    * a shape change (exactly one side an object) takes the right side;
    * writing nil (JSON null / '' / []) is a no-op — the left side stays;
    * otherwise the right side wins.

    Key order: ``to_variant_object`` renders objects with variant's sorted
    key order, which is exactly the python backend's canonical form for
    data-derived dicts (canon_sort on entry, re-sort per merged level).
    JSON null inside an object is a variant VOID (NOT SQL NULL), so the
    lambda's NULL checks distinguish "key absent" from "key null" just like
    the python dict does."""
    ma = F.try_variant_get(a, "$", "map<string,variant>")
    mb = F.try_variant_get(b, "$", "map<string,variant>")
    if depth == 0:
        # evaluated only when both sides are STILL objects at max depth;
        # raise_error is non-foldable, so untaken branches never fire
        merged = F.parse_json(
            F.raise_error(
                F.lit(
                    "$MergeJSON: object nesting exceeds the column "
                    f"backend's max merge depth ({_MERGE_DEPTH})"
                )
            )
        )
    else:
        merged = F.to_variant_object(
            F.map_zip_with(
                ma,
                mb,
                lambda k, x, y: F.when(x.isNull(), y)
                .when(y.isNull(), x)
                .otherwise(_vmerge(x, y, depth - 1)),
            )
        )
    return (
        F.when(a.isNull(), b)
        .when(b.isNull(), a)
        .when(ma.isNotNull() & mb.isNotNull(), merged)
        .when(ma.isNotNull() | mb.isNotNull(), b)  # shape change -> right
        .when(_variant_nil(b), a)  # writing nil is a no-op
        .otherwise(b)
    )


def _year_guard(ts: Column) -> Column:
    """Nil any timestamp outside years 1000-9999: Java's yyyy zero-pads
    ("0999") where Python's %Y does not ("999"), so the two backends'
    renderings only agree inside the 4-digit window. Applied to every
    parsed/derived timestamp in the time builtins; the python backend
    enforces the same window on dt.year. Binds ts once (_let) — it is
    typically an expensive parse referenced twice here."""
    return _let(ts, lambda t: F.when(F.year(t).between(1000, 9999), t))


def _clock_dt(clock: str):
    """Injected-clock ISO-8601 string -> naive-UTC datetime (the session
    timezone is UTC, so a naive literal timestamp renders identically via
    Spark's date_format and Python's strftime)."""
    from datetime import datetime, timezone

    s = clock[:-1] + "+00:00" if clock.endswith("Z") else clock
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


_MAX_EXACT_LONG = float(2**53)  # largest range where double==long exactly


def _num_form(jv) -> Column:
    """Numeric coercion for the arithmetic/ordering builtins — mirrors
    VARIANT's double cast (probed against Spark 4.1): numbers and numeric
    strings coerce (whitespace and exponent forms included), booleans
    become 1.0/0.0, null/containers are NULL; NaN/Inf normalize to NULL
    (they sit outside the portable envelope and would otherwise diverge —
    SQL sorts NaN above everything, Python does not)."""
    if isinstance(jv, _StrCol):
        d = jv.col.try_cast("double")
    elif isinstance(jv, _BoolCol):
        d = F.when(jv.col.isNotNull(), F.when(jv.col, F.lit(1.0)).otherwise(F.lit(0.0)))
    elif isinstance(jv, Column):
        d = F.try_variant_get(jv, "$", "double")
    else:
        raise MappingConfigError(
            "column backend: arithmetic arguments must be scalar values"
        )
    # bind d once: the guard references it 4 times, and d itself is often
    # an expensive variant cast (see _let)
    return _let(
        d,
        lambda x: F.when(
            x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))), x
        ),
    )


def _num_render(d: Column) -> Column:
    """Render an arithmetic double inside the PORTABLE ENVELOPE, where the
    two backends' renderings provably agree: integral values (|x| <= 2^53)
    render as integers (VARIANT's decimal strips ".0"); non-integral values
    render plainly only in [1e-3, 1e7) — the range where Java's
    Double.toString stays in decimal notation and equals Python's repr
    (both shortest-round-trip). Anything else is nil: beyond the envelope
    Java flips to "1.0E16"-style scientific while Python writes "1e+16",
    so the envelope IS the cross-backend spec."""
    def render(x: Column) -> Column:
        intish = (x == F.floor(x)) & (F.abs(x) <= F.lit(_MAX_EXACT_LONG))
        plain = (F.abs(x) >= F.lit(1e-3)) & (F.abs(x) < F.lit(1e7))
        return F.when(
            x.isNotNull() & ~F.isnan(x),
            F.when(intish, F.try_parse_json(x.cast("long").cast("string"))).when(
                plain, F.try_parse_json(x.cast("string"))
            ),
        )

    # bind d once: the envelope references it 9 times (see _let)
    return _let(d, render)


def _vpath(parts) -> str:
    return "$" + "".join(
        f"[{p}]" if isinstance(p, int) else f".{p}" for p in parts
    )


def _wild_nav(base: Column, parts: list):
    """Wildcard-aware variant navigation: returns (Column, is_array).
    ``a[*].b`` maps over the array at ``a`` extracting ``b`` per element
    (missing elements SKIPPED, JSON-null values kept — variant-null is not
    SQL NULL); ``a[*]`` alone is the array itself; wildcards nest without
    flattening. A missing/non-array source yields NULL (-> field omitted),
    matching the python backend's _MISSING. Everything stays inside
    whole-stage codegen (try_variant_get + transform + filter)."""
    if "*" not in parts:
        if not parts:
            return base, False
        return F.try_variant_get(base, _vpath(parts), "variant"), False
    i = parts.index("*")
    prefix, rest = list(parts[:i]), list(parts[i + 1 :])
    arr = F.try_variant_get(base, _vpath(prefix), "array<variant>")
    if not rest:
        return arr, True
    mapped = F.transform(arr, lambda x: _wild_nav(x, rest)[0])
    # per-element missing (SQL NULL) is skipped; JSON nulls survive as
    # variant nulls, so the filter matches the python backend's skip rule
    return F.filter(mapped, lambda x: x.isNotNull()), True


def _cond_col(cond) -> Column:
    """Strict-boolean condition: TRUE iff the value is JSON true (a "true"
    STRING must not coerce, matching the python backend's `v is True`).
    A missing value yields NULL — callers decide what NULL means."""
    if isinstance(cond, _BoolCol):
        return cond.col
    if isinstance(cond, Column):
        return (
            F.schema_of_variant(cond) == F.lit("BOOLEAN")
        ) & F.try_variant_get(cond, "$", "boolean")
    raise MappingConfigError(
        "column backend: condition must be a data value or a boolean builtin"
    )


def _str_form(jv) -> Column:
    """The JSON-scalar string form of a value (builtin argument coercion).
    Objects/arrays yield NULL (builtins are scalar functions; the python
    backend mirrors this by returning _MISSING for non-scalars)."""
    if isinstance(jv, _StrCol):
        return jv.col
    if isinstance(jv, _BoolCol):
        return F.when(jv.col.isNotNull(), F.when(jv.col, "true").otherwise("false"))
    if not isinstance(jv, Column):  # _StructVal / _ArrCol / _StrArr
        raise MappingConfigError(
            "column backend: builtin arguments must be scalar values"
        )
    return F.try_variant_get(jv, "$", "string")


def _compile_expr(cfg: MappingConfig, expr, env: dict[str, Any]):
    if isinstance(expr, Lit):
        return F.parse_json(F.lit(json_canon.dumps(expr.value)))
    if isinstance(expr, Path):
        base = env[expr.var]
        parts = list(expr.parts)
        # static navigation through projector results (_StructVal): resolve
        # field names at compile time until we bottom out in a leaf value
        while parts and isinstance(base, _StructVal):
            p = parts.pop(0)
            entry = base.tree.get(p) if isinstance(p, str) else None
            if entry is None:
                return _null_variant()
            kind, val = entry
            base = _StructVal(val) if kind == "node" else val
        if isinstance(base, _ArrCol) and parts and isinstance(parts[0], int):
            # dynamic element access into an append-target array (positions
            # are data-dependent after missing-filtering, so this cannot
            # resolve statically); try_element_at is 1-based
            idx = parts.pop(0)
            if base.elem == "struct":
                raise MappingConfigError(
                    "column backend: cannot navigate into iterated results"
                )
            elem_col = F.try_element_at(base.col, F.lit(idx + 1))
            if base.elem != "variant":
                return _StrCol(elem_col) if not parts else _null_variant()
            base = elem_col
        if isinstance(base, _ArrCol) and parts == ["*"]:
            return base  # wildcard identity over an append-target array
        if (
            isinstance(base, _ArrCol)
            and base.elem == "variant"
            and parts
            and parts[0] == "*"
        ):
            # wildcard navigation into a variant-element array (e.g. a
            # var-bound [where]-filter result): per-element extraction with
            # the same missing-skipped / null-kept rule as _wild_nav
            rest = list(parts[1:])
            if not rest:
                return base
            mapped = F.transform(base.col, lambda x: _wild_nav(x, rest)[0])
            return _ArrCol(F.filter(mapped, lambda x: x.isNotNull()), "variant")
        if isinstance(base, _ArrCol) and "*" in parts:
            # wildcard navigation INTO projector-built arrays needs per-
            # element dynamic structure: pandas backend territory
            raise MappingConfigError(
                "column backend: cannot wildcard into projector results"
            )
        if isinstance(base, (_StrCol, _BoolCol, _ArrCol)):
            return base if not parts else _null_variant()
        if isinstance(base, _StructVal):
            return base
        if not parts:
            return base
        if not isinstance(base, Column):
            # e.g. a _StrArr (builtin-result array literal) passed as a
            # projector argument and then path-navigated: outside the
            # projective subset — MappingConfigError keeps the clean
            # backend='auto' fallback contract (a TypeError from
            # try_variant_get would crash compile instead)
            raise MappingConfigError(
                "column backend: cannot navigate a path into this value"
            )
        col, is_arr = _wild_nav(base, parts)
        return _ArrCol(col, "variant") if is_arr else col
    if isinstance(expr, Where):
        base = _compile_expr(cfg, expr.base, env)
        if isinstance(base, _ArrCol):
            if base.elem != "variant":
                raise MappingConfigError(
                    "column backend: cannot [where]-filter an iterated/"
                    "rendered array"
                )
            arr = base.col
        elif isinstance(base, Column):
            # variant -> array<variant>: NULL for a missing/non-array base
            # (nil), matching the python backend's _MISSING
            arr = F.try_variant_get(base, "$", "array<variant>")
        else:
            raise MappingConfigError(
                "column backend: [where] filter needs a data array"
            )

        def _keep(e):
            penv = dict(env)
            penv["$"] = e
            # lambda scope: a hoisted column cannot reference the element var
            penv.pop("__hoist__", None)
            # required-miss conditions cannot escape the filter lambda
            penv["__req__"] = None
            # strict boolean: NULL (missing/non-boolean) drops the element
            return _cond_col(_compile_expr(cfg, expr.pred, penv))

        return _ArrCol(F.filter(arr, _keep), "variant")
    if isinstance(expr, Call):
        proj = cfg.projectors[expr.name]
        iters = [i for i, a in enumerate(expr.args) if isinstance(a, Iterate)]
        if iters:
            srcs = {}
            for it in iters:
                src = _compile_expr(cfg, expr.args[it].path, env)
                if not isinstance(src, Column):
                    raise MappingConfigError(
                        "column backend: iterated source must be a data value"
                    )
                # variant -> array<variant>: NULL for missing/non-array
                # sources (matching the python backend's _MISSING)
                srcs[it] = F.try_variant_get(src, "$", "array<variant>")
            fixed = {
                j: _compile_expr(cfg, a, env)
                for j, a in enumerate(expr.args)
                if j not in iters
            }
            tree = nest_fields(proj.fields)

            def body(*elems):
                by_iter = dict(zip(iters, elems))
                penv = {
                    p: by_iter.get(j, fixed.get(j))
                    for j, p in enumerate(proj.params)
                }
                penv["__clock__"] = env.get("__clock__")
                # a required-miss condition built here would reference the
                # lambda's element variable and cannot escape to row level
                penv["__req__"] = None
                for vn, vx in proj.vars:
                    penv[vn] = _compile_expr(cfg, vx, penv)
                return _render(_compile_tree(cfg, tree, penv, is_root=True))

            if proj.required:
                raise MappingConfigError(
                    "column backend: required fields inside an iterated "
                    "projector cannot surface row-level errors"
                )
            if len(iters) == 1:
                # one array: F.transform — one codegen lambda per element
                # (PySpark HOFs introspect the lambda signature: fixed arity)
                return _ArrCol(
                    F.transform(srcs[iters[0]], lambda e: body(e)), "struct"
                )
            if len(iters) == 2:
                # two arrays: F.zip_with zips to the LONGEST (the short
                # side's elements arrive as SQL NULL -> their fields go
                # missing), exactly the python backend's pad-with-_MISSING
                # rule; a NULL (missing/non-array) source nulls the whole
                # result
                return _ArrCol(
                    F.zip_with(
                        srcs[iters[0]], srcs[iters[1]], lambda a, b: body(a, b)
                    ),
                    "struct",
                )
            # 3+ arrays: arrays_zip is n-ary with the SAME semantics —
            # zip-to-longest with NULL padding, whole-result NULL when any
            # source is NULL — then one transform unpacks the zip struct
            # into the projector body (aliases pin the field names; zip
            # field naming otherwise depends on the input expressions)
            zipped = F.arrays_zip(
                *[srcs[it].alias(f"_z{j}") for j, it in enumerate(iters)]
            )
            return _ArrCol(
                F.transform(
                    zipped,
                    lambda e: body(*[e[f"_z{j}"] for j in range(len(iters))]),
                ),
                "struct",
            )
        args = [_compile_expr(cfg, a, env) for a in expr.args]
        penv = dict(zip(proj.params, args))
        penv["__clock__"] = env.get("__clock__")
        penv["__req__"] = env.get("__req__")
        penv["__hoist__"] = env.get("__hoist__")  # row-level context: CSE on
        for vn, vx in proj.vars:  # projector-local var bindings, in order
            penv[vn] = _compile_expr(cfg, vx, penv)
        result = _compile_tree(cfg, nest_fields(proj.fields), penv, is_root=True)
        if proj.required:
            reqs = env.get("__req__")
            if reqs is None:
                raise MappingConfigError(
                    "column backend: required fields cannot be checked "
                    "inside iteration/filter lambdas"
                )
            for rpath in proj.required:
                cur = result.tree
                for seg in rpath[:-1]:
                    cur = cur[seg][1]  # declared, so present; 'node' subtree
                _, val = cur[rpath[-1]]
                col = val if isinstance(val, Column) else getattr(val, "col", None)
                if col is not None:  # _StructVal/_StrArr leaves: never nil
                    reqs.append((".".join(map(str, rpath)), col.isNull()))
        return result
    if isinstance(expr, Builtin):
        if expr.name == "$ListOf":
            # exactly the `[a, b]` literal semantics
            return _compile_expr(cfg, Arr(tuple(expr.args)), env)
        args = [_compile_expr(cfg, a, env) for a in expr.args]
        if expr.name == "$MergeJSON":
            # RUNTIME deep merge when every argument is a DATA-derived
            # variant: _vmerge (map_zip_with unrolled to _MERGE_DEPTH).
            # Key order is variant-sorted on both backends (canon form).
            if args and all(isinstance(a, Column) for a in args):
                # NOTE: _let lambdas must be SINGLE-parameter — PySpark HOFs
                # introspect arity, and a second (defaulted) parameter would
                # receive the array INDEX. Capture via closure instead.
                def _merge_pair(a_col: Column, b_col: Column) -> Column:
                    return _let(
                        a_col,
                        lambda x: _let(b_col, lambda y: _vmerge(x, y)),
                    )

                res = args[0]
                for nxt in args[1:]:
                    res = _merge_pair(res, nxt)
                return res

            # STATIC deep merge of projector results. Conflicts resolve at
            # compile time where runtime types are GUARANTEED: nested
            # objects (node∧node) recurse; scalar-typed leaves (_StrCol/
            # _BoolCol) apply the writing-nil-is-a-no-op rule; a variant∧
            # variant conflict (which could hold runtime objects) resolves
            # with the same runtime _vmerge as the data-derived path.
            def _merge_tree(ta: dict, tb: dict) -> dict:
                out = dict(ta)
                for k, (kb, vb) in tb.items():
                    if k not in out:
                        out[k] = (kb, vb)
                        continue
                    ka, va = out[k]
                    if ka == "node" and kb == "node":
                        out[k] = ("node", _merge_tree(va, vb))
                    elif isinstance(va, _StrCol) and isinstance(vb, _StrCol):
                        nil_b = F.coalesce(vb.col == "", F.lit(True))
                        out[k] = ("leaf", _StrCol(F.when(nil_b, va.col).otherwise(vb.col)))
                    elif isinstance(va, _BoolCol) and isinstance(vb, _BoolCol):
                        out[k] = ("leaf", _BoolCol(F.coalesce(vb.col, va.col)))
                    elif isinstance(va, Column) and isinstance(vb, Column):
                        # declared-leaf rule: the left key was DECLARED, so
                        # "left omitted (nil-written, SQL NULL) + right nil"
                        # must VANISH — matching the python backend's
                        # skip-insert branch — while every other case is the
                        # plain runtime merge. Single-param _let lambdas
                        # (capture by closure): HOF arity is significant.
                        def _leaf_merge(a_col: Column, b_col: Column) -> Column:
                            return _let(
                                a_col,
                                lambda x: _let(
                                    b_col,
                                    lambda y: F.when(
                                        x.isNull() & _variant_nil(y), x
                                    ).otherwise(_vmerge(x, y)),
                                ),
                            )

                        out[k] = ("leaf", _leaf_merge(va, vb))
                    else:
                        raise MappingConfigError(
                            "column backend: $MergeJSON conflict at "
                            f"'{k}' needs nested objects, scalar-typed "
                            "leaves, or data values (mixed projector/array "
                            "leaves merge in pandas)"
                        )
                return out

            res = args[0]
            for b in args[1:]:
                if not (isinstance(res, _StructVal) and isinstance(b, _StructVal)):
                    raise MappingConfigError(
                        "column backend: $MergeJSON arguments must be "
                        "projector results or data values (mixed argument "
                        "kinds merge in pandas)"
                    )
                res = _StructVal(_merge_tree(res.tree, b.tree))
            return res
        if expr.name == "$ToUpper":
            return _StrCol(F.upper(_str_form(args[0])))
        if expr.name == "$ToLower":
            return _StrCol(F.lower(_str_form(args[0])))
        if expr.name == "$StrCat":
            return _StrCol(F.concat(*[_str_form(a) for a in args]))
        if expr.name == "$Hash":
            # sha256 over the value's canonical JSON rendering; restricted to
            # data-derived (variant) args in this backend — the pandas backend
            # handles the general case identically via json_canon.dumps
            if not isinstance(args[0], Column):
                raise MappingConfigError(
                    "column backend: $Hash argument must be a data value"
                )
            return _StrCol(F.sha2(F.to_json(args[0]), 256))
        if expr.name == "$IntHash":
            # 52-bit integer fingerprint: first 13 hex digits of the same
            # sha256, read base-16 — stays inside the |x| <= 2^53 integer
            # envelope so both backends render it as a plain integer
            if not isinstance(args[0], Column):
                raise MappingConfigError(
                    "column backend: $IntHash argument must be a data value"
                )
            return F.try_parse_json(
                F.conv(
                    F.substring(F.sha2(F.to_json(args[0]), 256), 1, 13), 16, 10
                )
            )
        if expr.name == "$DebugString":
            # the canonical JSON rendering itself (VARIANT's to_json —
            # sorted object keys, strings quoted); data-derived args only,
            # mirroring $Hash's restriction
            if not isinstance(args[0], Column):
                raise MappingConfigError(
                    "column backend: $DebugString argument must be a data value"
                )
            return _StrCol(F.to_json(args[0]))
        if expr.name == "$StrFmt":
            segs, _ = _strfmt_segments(_lit_str(expr.args[0], "$StrFmt format"))
            cols: list[Column] = []
            ai = 1
            for seg in segs:
                if seg is None:  # a %s slot
                    cols.append(_str_form(args[ai]))
                    ai += 1
                elif seg:
                    cols.append(F.lit(seg))
            # concat is null-intolerant: one nil argument nils the result
            return _StrCol(F.concat(*cols) if cols else F.lit(""))
        if expr.name == "$Eq":
            # equality of canonical JSON renderings (VARIANT objects carry
            # sorted keys, so rendering equality == value equality); a
            # missing side yields NULL -> the condition is not satisfied
            for a in args:
                if not isinstance(a, Column):
                    raise MappingConfigError(
                        "column backend: $Eq arguments must be data values"
                    )
            # coalesce: a missing side compares false (not NULL/omitted),
            # matching the python backend
            return _BoolCol(
                F.coalesce(F.to_json(args[0]) == F.to_json(args[1]), F.lit(False))
            )
        if expr.name == "$NEq":
            # exactly `not $Eq`: a missing side is NOT equal, hence true
            # (to_json(NULL) -> NULL comparison -> coalesce to True)
            for a in args:
                if not isinstance(a, Column):
                    raise MappingConfigError(
                        "column backend: $NEq arguments must be data values"
                    )
            return _BoolCol(
                F.coalesce(F.to_json(args[0]) != F.to_json(args[1]), F.lit(True))
            )
        if expr.name in ("$And", "$Or"):
            # strict-boolean n-ary fold; NULL operands (missing/non-bool)
            # are "not true": NULL&false=false, NULL|true=true, and the
            # remaining NULL outcomes coalesce to false — identical to the
            # pandas backend's all/any(v is True)
            cols = [_cond_col(a) for a in args]
            acc = cols[0]
            for c in cols[1:]:
                acc = (acc & c) if expr.name == "$And" else (acc | c)
            return _BoolCol(F.coalesce(acc, F.lit(False)))
        if expr.name == "$ToString":
            return _StrCol(_str_form(args[0]))
        if expr.name == "$ParseInt":
            return _num_variant(_str_form(args[0]).try_cast("long"))
        if expr.name == "$ParseFloat":
            # envelope rendering: integral floats render as integers
            # ("3.0" -> 3), exactly like a VARIANT decimal would
            return _num_render(_str_form(args[0]).try_cast("double"))
        if expr.name == "$StrSplit":
            d = _lit_str(expr.args[1], "$StrSplit delimiter")
            return _ArrCol(F.split(_str_form(args[0]), re.escape(d), -1), "str")
        if expr.name == "$StrJoin":
            d = _lit_str(expr.args[0], "$StrJoin delimiter")
            arr = args[1]
            if isinstance(arr, _ArrCol) and arr.elem == "str":
                return _StrCol(F.array_join(arr.col, d))
            if isinstance(arr, _StrArr):
                return _StrCol(F.array_join(F.array(*arr.cols), d))
            if isinstance(arr, Column):
                # data-derived array: element scalars coerce to string the
                # way _str_form does (variant_get array<string>)
                return _StrCol(
                    F.array_join(F.try_variant_get(arr, "$", "array<string>"), d)
                )
            raise MappingConfigError(
                "column backend: $StrJoin needs an array value"
            )
        if expr.name == "$MatchesRegex":
            pat = _lit_str(expr.args[1], "$MatchesRegex pattern")
            # full-match semantics (Whistle MatchesRegex); a missing subject
            # compares false. \z (absolute end), not $ — Java's $ also
            # matches before a trailing newline, where re.fullmatch does not
            return _BoolCol(
                F.coalesce(
                    _str_form(args[0]).rlike(f"^(?:{pat})\\z"), F.lit(False)
                )
            )
        if expr.name in ("$IsNil", "$IsNotNil"):

            def _nil_col(v) -> Column:
                # never NULL: every branch coalesces, so negation is safe
                if isinstance(v, _StrCol):
                    return F.coalesce(v.col == "", F.lit(True))
                if isinstance(v, _BoolCol):
                    return v.col.isNull()
                if isinstance(v, _ArrCol):
                    return F.coalesce(F.size(v.col) == 0, F.lit(True))
                if isinstance(v, _StrArr):
                    return F.lit(len(v.cols) == 0)
                if isinstance(v, _StructVal):
                    return F.lit(False)  # statically non-empty
                # variant: nil = missing, JSON null, '', [], {} — rendering
                return F.coalesce(
                    F.to_json(v).isin("null", '""', "[]", "{}"), F.lit(True)
                )

            nil = _nil_col(args[0])
            return _BoolCol(nil if expr.name == "$IsNil" else ~nil)
        if expr.name == "$Void":
            # arguments are compiled (so they must still be WELL-FORMED)
            # but the value is always nil: the field is simply omitted
            return _null_variant()
        if expr.name == "$ListLen":
            v = args[0]
            if isinstance(v, _ArrCol):
                return _num_variant(
                    F.when(v.col.isNotNull(), F.size(v.col)).cast("long")
                )
            if isinstance(v, _StrArr):
                return F.parse_json(F.lit(str(len(v.cols))))
            if isinstance(v, Column):
                arr = F.try_variant_get(v, "$", "array<variant>")
                return _num_variant(
                    F.when(arr.isNotNull(), F.size(arr)).cast("long")
                )
            raise MappingConfigError(
                "column backend: $ListLen needs an array value"
            )
        if expr.name == "$Trim":
            # space-only trim (Spark's trim strips 0x20 exactly; the pandas
            # backend mirrors with str.strip(" "))
            return _StrCol(F.trim(_str_form(args[0])))
        if expr.name == "$SubStr":
            start = _lit_int(expr.args[1], "$SubStr start")
            end = _lit_int(expr.args[2], "$SubStr end")
            # python-slice clamping: substring's pos/len form clamps at the
            # string end the same way s[start:end] does
            return _StrCol(
                F.substring(_str_form(args[0]), start + 1, end - start)
            )
        if expr.name == "$ReformatTime":
            in_fmt = _lit_str(expr.args[1], "$ReformatTime input format")
            out_fmt = _lit_str(expr.args[2], "$ReformatTime output format")
            ts = _hoist(env, _year_guard(F.try_to_timestamp(_str_form(args[0]), F.lit(in_fmt))))
            # unparseable/missing -> NULL timestamp -> NULL string -> field
            # omitted, matching the pandas backend's _MISSING
            return _StrCol(F.date_format(ts, out_fmt))
        if expr.name == "$ParseTime":
            in_fmt = _lit_str(expr.args[0], "$ParseTime format")
            ts = _hoist(env, _year_guard(F.try_to_timestamp(_str_form(args[1]), F.lit(in_fmt))))
            return _StrCol(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"))
        if expr.name == "$ParseUnixTime":
            unit = _lit_str(expr.args[0], "$ParseUnixTime unit")
            out_fmt = _lit_str(expr.args[2], "$ParseUnixTime format")
            # the zone must be a literal too; the parser has made it "UTC"
            _lit_str(expr.args[3], "$ParseUnixTime timezone")
            lim = _EPOCH_SECS_MAX * 1000 + 999 if unit == "ms" else _EPOCH_SECS_MAX
            d = _hoist(env, _num_form(args[1]))
            # integral, in-range epochs only: fractional values and years
            # past 9999 are where the backends' renderings stop agreeing;
            # d bound once for its 5 references (_let)
            iv = _let(
                d,
                lambda x: F.when(
                    (x == F.floor(x)) & (x >= 0) & (x <= F.lit(float(lim))),
                    x.cast("long"),
                ),
            )
            ts = F.timestamp_millis(iv) if unit == "ms" else F.timestamp_seconds(iv)
            return _StrCol(F.date_format(ts, out_fmt))
        if expr.name == "$SplitTime":
            in_fmt = _lit_str(expr.args[0], "$SplitTime format")
            ts = _hoist(env, _year_guard(F.try_to_timestamp(_str_form(args[1]), F.lit(in_fmt))))
            # bind ts once for its 7 references; unparseable -> nil (not an
            # array of nulls)
            return _ArrCol(
                _let(
                    ts,
                    lambda t: F.when(
                        t.isNotNull(),
                        F.array(
                            *[
                                F.date_format(t, p)
                                for p in ("yyyy", "MM", "dd", "HH", "mm", "ss")
                            ]
                        ),
                    ),
                ),
                "str",
            )
        if expr.name == "$TimeAdd":
            in_fmt = _lit_str(expr.args[1], "$TimeAdd format")
            n = _lit_int(expr.args[2], "$TimeAdd quantity")
            unit = _lit_str(expr.args[3], "$TimeAdd unit")
            ts = _hoist(env, _year_guard(F.try_to_timestamp(_str_form(args[0]), F.lit(in_fmt))))
            iargs = [F.lit(0)] * 7
            iargs[_TIMEADD_UNITS[unit]] = F.lit(n)
            # month/year intervals clamp at month end (Jan 31 + 1 month ->
            # Feb 29), exactly the python backend's manual clamp
            ts2 = _year_guard(ts + F.make_interval(*iargs))
            return _StrCol(F.date_format(ts2, in_fmt))
        if expr.name == "$UnnestArrays":
            # one {k, v} pair per key (array values explode to one pair per
            # element): map_entries over the object's map<string,variant>
            # cast, a per-element transform, and one flatten — all inside
            # the row's expression tree, no shuffle. Key order is variant's
            # sorted order, the python backend's canon_sort order. A
            # missing/non-object argument casts to a NULL map, which
            # null-propagates through map_entries/transform/flatten to nil.
            v = args[0]
            if not isinstance(v, Column):
                raise MappingConfigError(
                    "column backend: $UnnestArrays argument must be a data "
                    "value (projector-result unnests run in pandas)"
                )
            entries = F.map_entries(
                F.try_variant_get(v, "$", "map<string,variant>")
            )
            pairs = F.flatten(
                F.transform(
                    entries,
                    lambda e: F.coalesce(
                        F.transform(
                            F.try_variant_get(e["value"], "$", "array<variant>"),
                            lambda x: F.struct(
                                e["key"].alias("k"), x.alias("v")
                            ),
                        ),
                        F.array(
                            F.struct(
                                e["key"].alias("k"), e["value"].alias("v")
                            )
                        ),
                    ),
                )
            )
            return _ArrCol(pairs, "struct")
        if expr.name == "$UUID":
            # nondeterministic: besides being un-checkable, a nondeterministic
            # leaf inside the CSE/let transform lambdas is not allowed by
            # Catalyst — pandas-only by design
            raise MappingConfigError(
                "column backend: $UUID is nondeterministic (pandas)"
            )
        if expr.name == "$ListCat":
            cols = []
            for a in args:
                if isinstance(a, _ArrCol) and a.elem == "variant":
                    cols.append(a.col)
                elif isinstance(a, Column):
                    cols.append(F.try_variant_get(a, "$", "array<variant>"))
                else:
                    # literal/str-typed arrays: pandas backend territory
                    raise MappingConfigError(
                        "column backend: $ListCat needs data-derived arrays"
                    )
            # concat is null-intolerant: any missing/non-array argument
            # yields NULL, matching the pandas backend's any-non-list rule
            return _ArrCol(F.concat(*cols), "variant")
        if expr.name in ("$Flatten", "$Unique"):
            v = args[0]
            if isinstance(v, _ArrCol) and v.elem == "variant":
                arr = v.col
            elif isinstance(v, Column):
                arr = F.try_variant_get(v, "$", "array<variant>")
            else:
                # literal/str-typed arrays: pandas backend territory
                raise MappingConfigError(
                    f"column backend: {expr.name} needs a data-derived array"
                )
            if expr.name == "$Flatten":
                # one-level splice: array elements expand, everything else
                # (incl. variant nulls) passes through in place; a missing/
                # non-array input leaves arr NULL -> field omitted
                out = F.flatten(
                    F.transform(
                        arr,
                        lambda x: F.coalesce(
                            F.try_variant_get(x, "$", "array<variant>"),
                            F.array(x),
                        ),
                    )
                )
            else:
                # first-occurrence dedup by canonical rendering (the $Eq
                # equality; array_distinct has no VARIANT ordering). The
                # accumulator re-renders O(n^2) per record — fine for
                # per-record JSON arrays, and it never leaves the row
                out = F.aggregate(
                    arr,
                    F.expr("cast(array() as array<variant>)"),
                    lambda acc, x: F.when(
                        F.array_contains(
                            F.transform(acc, lambda y: F.to_json(y)),
                            F.to_json(x),
                        ),
                        acc,
                    ).otherwise(F.array_append(acc, x)),
                )
            return _ArrCol(out, "variant")
        if expr.name == "$Type":
            v = args[0]
            if isinstance(v, _StrCol):
                return _StrCol(F.when(v.col.isNotNull(), F.lit("string")))
            if isinstance(v, _BoolCol):
                return _StrCol(F.when(v.col.isNotNull(), F.lit("bool")))
            if isinstance(v, _ArrCol):
                return _StrCol(F.when(v.col.isNotNull(), F.lit("array")))
            if isinstance(v, _StrArr):
                return _StrCol(F.lit("array"))
            if isinstance(v, _StructVal):
                return _StrCol(F.lit("container"))
            # variant: classify by the canonical rendering's first char —
            # cheaper than schema_of_variant and exactly the pandas rule
            j = F.to_json(v)
            c = F.substring(j, 1, 1)
            return _StrCol(
                F.when(c == "{", "container")
                .when(c == "[", "array")
                .when(c == '"', "string")
                .when(j.isin("true", "false"), "bool")
                .when(j == "null", "null")
                .when(j.isNotNull(), "number")
            )
        if expr.name in ("$SortAndTakeTop", "$UnionBy"):
            v = args[0]
            if isinstance(v, _ArrCol) and v.elem == "variant":
                arr = v.col
            elif isinstance(v, Column):
                arr = F.try_variant_get(v, "$", "array<variant>")
            else:
                raise MappingConfigError(
                    f"column backend: {expr.name} needs a data-derived array"
                )
            keys = [
                _lit_str(a, f"{expr.name} key") for a in expr.args[1:]
            ]
            if expr.name == "$SortAndTakeTop":
                key, desc = keys  # (key, "true"/"false")

                def kf(x):
                    return F.coalesce(
                        F.to_json(F.try_variant_get(x, "$." + key, "variant")),
                        F.lit(""),
                    )

                # TOTAL order: key rendering, then the whole element's
                # rendering — so the two backends' sorts cannot diverge on
                # ties and desc-first == asc-last
                s = F.array_sort(
                    arr,
                    lambda x, y: F.when(kf(x) < kf(y), F.lit(-1))
                    .when(kf(x) > kf(y), F.lit(1))
                    .when(F.to_json(x) < F.to_json(y), F.lit(-1))
                    .when(F.to_json(x) > F.to_json(y), F.lit(1))
                    .otherwise(F.lit(0)),
                )
                return F.try_element_at(
                    s, F.lit(-1 if desc == "true" else 1)
                )
            # $UnionBy: first-occurrence dedup by the rendering tuple of
            # the key fields (\x00-joined; a missing field renders as a
            # sentinel distinct from JSON null)

            def ukey(x):
                parts = [
                    F.coalesce(
                        F.to_json(F.try_variant_get(x, "$." + k, "variant")),
                        F.lit("\x00missing"),
                    )
                    for k in keys
                ]
                return F.concat_ws("\x00", *parts)

            out = F.aggregate(
                arr,
                F.expr("cast(array() as array<variant>)"),
                lambda acc, x: F.when(
                    F.array_contains(F.transform(acc, ukey), ukey(x)), acc
                ).otherwise(F.array_append(acc, x)),
            )
            return _ArrCol(out, "variant")
        if expr.name in ("$Sum", "$Sub", "$Mul", "$Div", "$Mod"):
            ds = [_hoist(env, _num_form(a)) for a in args]
            if expr.name == "$Sum":
                d = ds[0]
                for x in ds[1:]:
                    d = d + x
            elif expr.name == "$Mul":
                d = ds[0]
                for x in ds[1:]:
                    d = d * x
            elif expr.name == "$Sub":
                d = ds[0] - ds[1]
            elif expr.name == "$Mod":
                # SQL % on doubles is C fmod (dividend's sign); zero divisor
                # is nil, matching $Div (the NaN it would produce is outside
                # the envelope anyway). Denominator bound once (_let).
                d = _let(
                    ds[1], lambda den: F.when(den != F.lit(0.0), ds[0] % den)
                )
            else:  # $Div — zero denominator is nil, never Inf
                d = _let(
                    ds[1], lambda den: F.when(den != F.lit(0.0), ds[0] / den)
                )
            # null propagation is free: +,-,*,/ are null-intolerant
            return _num_render(d)
        if expr.name in ("$Gt", "$Lt", "$Gte", "$Lte"):
            a, b = _hoist(env, _num_form(args[0])), _hoist(env, _num_form(args[1]))
            cmp = {
                "$Gt": a > b,
                "$Lt": a < b,
                "$Gte": a >= b,
                "$Lte": a <= b,
            }[expr.name]
            # a nil side compares false (not nil), matching $Eq
            return _BoolCol(F.coalesce(cmp, F.lit(False)))
        if expr.name == "$CurrentTime":
            out_fmt = _lit_str(expr.args[0], "$CurrentTime format")
            clock = env.get("__clock__")
            # injected clock -> a literal timestamp (deterministic, oracle-
            # checkable); no clock -> Spark's query-constant now()
            ts = F.lit(_clock_dt(clock)) if clock else F.current_timestamp()
            return _StrCol(F.date_format(ts, out_fmt))
        if expr.name == "$Not":
            # true iff the value is NOT JSON true: a false/missing/non-bool
            # condition negates to true (the else-branch desugar target);
            # coalesce maps the missing-value NULL to true, matching the
            # python backend's `v is not True`
            return _BoolCol(F.coalesce(~_cond_col(args[0]), F.lit(True)))
        if expr.name == "$If":
            cond_col = _cond_col(args[0])
            branches = args[1:]

            def _kind(b):
                if isinstance(b, _StrCol):
                    return "str"
                if isinstance(b, _BoolCol):
                    return "bool"
                if isinstance(b, _ArrCol):
                    return ("arr", b.elem)
                if isinstance(b, _StructVal):
                    return "struct"
                if isinstance(b, Column):
                    return "variant"
                return "other"  # _StrArr etc.

            def _branch_col(b):
                if isinstance(b, (_StrCol, _BoolCol, _ArrCol)):
                    return b.col
                if isinstance(b, _StructVal):
                    return _render(b)
                return b

            kinds = {_kind(b) for b in branches}
            if len(kinds) > 1:
                # a STRING/BOOL literal branch is statically typed: coerce
                # it to the sibling branch's kind so the common real-world
                # `$If(c, "lit", $StrCat(...))` shape stays projective
                coerced = []
                for node, b in zip(expr.args[1:], branches):
                    if isinstance(node, Lit) and isinstance(node.value, str):
                        b = _StrCol(F.lit(node.value))
                    elif isinstance(node, Lit) and isinstance(node.value, bool):
                        b = _BoolCol(F.lit(node.value))
                    coerced.append(b)
                branches = coerced
                kinds = {_kind(b) for b in branches}
            if kinds in ({"str", "variant"}, {"bool", "variant"}):
                # lift the typed branch to VARIANT: a JSON round-trip
                # through a 1-field struct escapes correctly, and to_json's
                # ignoreNullFields maps SQL NULL back to missing (not JSON
                # null). Only paid on mixed-kind $If shapes — e.g. the
                # `field!:` overwrite chain wrapping a single-branch $If
                branches = [
                    b
                    if _kind(b) == "variant"
                    else F.try_variant_get(
                        F.parse_json(F.to_json(F.struct(b.col.alias("v")))),
                        "$.v",
                        "variant",
                    )
                    for b in branches
                ]
                kinds = {"variant"}
            if "other" in kinds or len(kinds) > 1:
                raise MappingConfigError(
                    "column backend: $If branches must be uniform values"
                )
            k = kinds.pop()
            if len(branches) == 2 and (k == "struct" or k == ("arr", "struct")):
                # two independently-shaped struct trees only merge when
                # their schemas match, which isn't statically checkable
                # here -> pandas backend
                raise MappingConfigError(
                    "column backend: $If with two object-valued branches"
                )
            w = F.when(cond_col, _branch_col(branches[0]))
            if len(branches) == 2:
                w = w.otherwise(_branch_col(branches[1]))
            if k == "str":
                return _StrCol(w)
            if k == "bool":
                return _BoolCol(w)
            if isinstance(k, tuple):
                return _ArrCol(w, k[1])
            return w  # variant, or a single-branch struct (NULL when false)
        raise MappingConfigError(f"column backend cannot compile {expr!r}")
    if isinstance(expr, Arr):
        items = [_compile_expr(cfg, it, env) for it in expr.items]
        kinds = {
            "variant" if (isinstance(i, Column) and not isinstance(i, (_StrCol, _BoolCol)))
            else "str" if isinstance(i, _StrCol)
            else "bool" if isinstance(i, _BoolCol)
            else "other"
            for i in items
        }
        if not items:
            return F.array().cast("array<variant>")
        if kinds == {"variant"}:
            return F.array(*items).cast("array<variant>")
        if kinds in ({"str"}, {"bool"}):
            return _StrArr([i.col for i in items])
        # nested arrays / projector results / mixed kinds: not projective
        raise MappingConfigError(
            "column backend: array elements must be uniformly data values or strings"
        )
    raise MappingConfigError(f"column backend cannot compile {expr!r}")


class _StrArr:
    def __init__(self, cols: list[Column]):
        self.cols = cols


def _compile_tree(
    cfg: MappingConfig, tree: dict, env: dict[str, Any], is_root: bool = False
) -> "_StructVal":
    out: dict = {}
    if is_root:
        # `dest` = the projector's output under construction. The dict is
        # shared by reference, so a field expression compiled later sees
        # exactly the fields declared before it (reads of later/self fields
        # are missing — matching the python backend's insertion-order dict).
        env = dict(env)
        env["dest"] = _StructVal(out)
    for name, (kind, val) in tree.items():
        if kind == "node":
            out[name] = ("node", _compile_tree(cfg, val, env).tree)
        elif kind == "arr":
            # `path[]:` append targets: produced values only (missing -> SQL
            # NULL is filtered; a JSON null VALUE survives), declaration order
            items = [_compile_expr(cfg, it, env) for it in val]
            # classify by isinstance, NOT exact type: runtime Columns are a
            # SUBCLASS (pyspark.sql.classic.column.Column on 4.x), so a
            # {type(i)} == {Column} comparison can never be true and would
            # silently mislabel every variant array as 'str'
            if all(isinstance(i, Column) for i in items):
                elem = "variant"
            elif all(isinstance(i, _StrCol) for i in items):
                elem = "str"
            elif all(isinstance(i, _BoolCol) for i in items):
                elem = "bool"
            else:
                raise MappingConfigError(
                    "column backend: append-target values must be uniform scalars"
                )
            cols = [i.col if isinstance(i, (_StrCol, _BoolCol)) else i for i in items]
            out[name] = (
                "leaf",
                _StrArr([]) if not cols else _ArrCol(
                    F.filter(F.array(*cols), lambda x: x.isNotNull()), elem
                ),
            )
        else:
            out[name] = ("leaf", _compile_expr(cfg, val, env))
    return _StructVal(out)


class _ArrCol:
    """A ready array Column (append-target result); renders as-is.
    ``elem`` records the element kind ('variant' | 'str') so static
    navigation can index into it dynamically."""

    def __init__(self, col: Column, elem: str = "variant"):
        self.col = col
        self.elem = elem


def _render(jv) -> Column:
    if isinstance(jv, _StructVal):
        if not jv.tree:
            raise MappingConfigError("column backend: empty projector not supported")
        cols = []
        for name, (kind, val) in jv.tree.items():
            sub = _render(_StructVal(val)) if kind == "node" else _render(val)
            cols.extend([F.lit(name), sub])
        return F.named_struct(*cols)
    if isinstance(jv, (_StrCol, _BoolCol, _ArrCol)):
        return jv.col
    if isinstance(jv, _StrArr):
        return F.array(*jv.cols)
    return jv  # variant Column


# Spark's string->double cast (probed on Spark 4.1): UTF8String.trimAll
# strips ASCII control chars <= 0x20 at BOTH ends (not just whitespace),
# then Java Double.parseDouble applies — which tolerates ONE trailing
# d/D/f/F suffix and accepts ASCII digit forms only. Python float()
# differs on all three (rejects \x19 padding and the d/f suffix, but
# accepts unicode digits/whitespace Spark rejects), so the mirror trims
# and validates explicitly before delegating to float().
_SPARK_TRIM_CHARS = "".join(chr(c) for c in range(0x21))
_SPARK_DOUBLE_RE = re.compile(
    r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$", re.ASCII
)


def _num_coerce(v):
    """Python mirror of _num_form's VARIANT double-cast semantics."""
    import math

    if v is _MISSING or v is None or isinstance(v, (dict, list)):
        return _MISSING
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        f = float(v)
    else:
        s = v.strip(_SPARK_TRIM_CHARS)
        if len(s) > 1 and s[-1] in "dDfF":
            s = s[:-1]
        if not _SPARK_DOUBLE_RE.match(s):
            # Infinity/NaN literals also land here — Spark parses them but
            # _num_form nulls non-finite values, so _MISSING agrees.
            return _MISSING
        try:
            f = float(s)
        except ValueError:
            return _MISSING
    return f if math.isfinite(f) else _MISSING


def _num_out(f):
    """Python mirror of _num_render's portable envelope."""
    import math

    if f is _MISSING or not math.isfinite(f):
        return _MISSING
    if float(f).is_integer() and abs(f) <= _MAX_EXACT_LONG:
        return int(f)
    if 1e-3 <= abs(f) < 1e7:
        return float(f)
    return _MISSING


# Spark's upper/lower (probed on Spark 4.1, ICU4J 77) follow Unicode 16;
# Python 3.11's str.upper/lower follow Unicode 14 and leave the case pairs
# added since unchanged. These are all single code points that Python's
# mapping never produces, so translating after str.upper/lower completes
# the mirror (and is a no-op once the interpreter's database has them).
_UC16_CASE_PAIRS = [
    (0xA7DC, 0x019B),
    (0xA7CB, 0x0264),
    (0x1C89, 0x1C8A),
    (0xA7CC, 0xA7CD),
    (0xA7DA, 0xA7DB),
] + [(0x10D50 + i, 0x10D70 + i) for i in range(0x16)]  # Garay
_SPARK_UPPER_EXTRA = {lo: up for up, lo in _UC16_CASE_PAIRS}
_SPARK_LOWER_EXTRA = {up: lo for up, lo in _UC16_CASE_PAIRS}


# python backend: AST -> closure


def _scalar_str(v):
    """Python analogue of the column backend's variant->string coercion:
    strings pass through, scalars use their JSON form, objects/arrays and
    null yield _MISSING (try_variant_get string cast returns NULL)."""
    if v is _MISSING or v is None or isinstance(v, (dict, list)):
        return _MISSING
    if isinstance(v, str):
        return v
    return json_canon.dumps(v)


def _check_required(proj, res: dict) -> None:
    """Dead-letter the record when a ``required`` target is nil: a missing
    key (the field was omitted) raises RecoverableMappingError with the
    same message the column backend's miss column produces. A written JSON
    null is PRESENT — only nil triggers."""
    for rpath in proj.required:
        cur = res
        for seg in rpath:
            if isinstance(cur, dict) and seg in cur:
                cur = cur[seg]
            else:
                raise RecoverableMappingError(
                    f"required field '{'.'.join(map(str, rpath))}' is nil"
                )


def _compile_python(cfg: MappingConfig) -> Callable[[Any], dict]:
    import hashlib

    # the nested-target tree is a pure function of the static config —
    # folding (and conflict-checking) it per projector CALL would redo it
    # for every row in the hot loop
    trees = {name: nest_fields(p.fields) for name, p in cfg.projectors.items()}

    # ---- $MergeJSON declared-shape support (key-order parity with columns)
    def _shape_from_tree(tree: dict) -> dict:
        # nested {name: subshape-dict | None}; None = leaf/arr
        return {
            k: (_shape_from_tree(v[1]) if v[0] == "node" else None)
            for k, v in tree.items()
        }

    def _merge_shapes(sa: dict, sb: dict) -> dict:
        # same rule as the column backend's _merge_tree: left key order,
        # right's new keys appended, node-node conflicts recurse, any
        # other conflict keeps the left position
        out = dict(sa)
        for k, v in sb.items():
            if k in out and isinstance(out[k], dict) and isinstance(v, dict):
                out[k] = _merge_shapes(out[k], v)
            elif k not in out:
                out[k] = v
        return out

    _shape_memo: dict[int, Any] = {}

    def _mj_shape(expr):
        """Merged declared key shape of a $MergeJSON node, or None when any
        argument is not a (possibly nested-merge of) plain projector call."""
        key = id(expr)
        if key not in _shape_memo:
            _shape_memo[key] = _static_shape(expr)
        return _shape_memo[key]

    _argshape_memo: dict[int, list] = {}

    def _mj_arg_shapes(expr):
        """Per-argument declared shapes of a $MergeJSON node (entries may be
        None for non-projector arguments)."""
        key = id(expr)
        if key not in _argshape_memo:
            _argshape_memo[key] = [_static_shape(a) for a in expr.args]
        return _argshape_memo[key]

    def _static_shape(e):
        if (
            isinstance(e, Call)
            and e.name in cfg.projectors
            and not any(isinstance(a, Iterate) for a in e.args)
        ):
            return _shape_from_tree(trees[e.name])
        if isinstance(e, Builtin) and e.name == "$MergeJSON":
            shapes = [_static_shape(a) for a in e.args]
            if any(s is None for s in shapes):
                return None
            out = shapes[0]
            for s in shapes[1:]:
                out = _merge_shapes(out, s)
            return out
        return None

    def _reorder_by_shape(val: dict, shape: dict) -> dict:
        out = {}
        for k, sub in shape.items():
            if k in val:
                v = val[k]
                out[k] = (
                    _reorder_by_shape(v, sub)
                    if isinstance(sub, dict) and isinstance(v, dict)
                    else v
                )
        for k, v in val.items():  # runtime-only keys (unknown-shape leaves)
            if k not in out:
                out[k] = v
        return out

    def eval_expr(expr, env):
        if isinstance(expr, Lit):
            return expr.value
        if isinstance(expr, Path):
            def nav(v, parts):
                for i, p in enumerate(parts):
                    if p == "*":  # wildcard: map the rest over the array
                        if not isinstance(v, list):
                            return _MISSING
                        rest = parts[i + 1 :]
                        if not rest:
                            return list(v)
                        out = []
                        for el in v:
                            r = nav(el, rest)
                            if r is not _MISSING:  # missing skipped; None kept
                                out.append(r)
                        return out
                    if isinstance(p, int):
                        if isinstance(v, list) and 0 <= p < len(v):
                            v = v[p]
                        else:
                            return _MISSING
                    elif isinstance(v, dict) and p in v:
                        v = v[p]
                    else:
                        return _MISSING
                return v

            # data-derived values are already canonical (the run() entry
            # canon-sorts the root once); a PROJECTOR RESULT navigated here
            # must keep its insertion order — sorting it would diverge from
            # the column backend's named_struct rendering
            return nav(env[expr.var], expr.parts)
        if isinstance(expr, Where):
            base = eval_expr(expr.base, env)
            if not isinstance(base, list):
                return _MISSING  # missing/non-array base is nil
            out = []
            for el in base:
                penv = dict(env)
                penv["$"] = el
                # strict boolean: keep iff the predicate is JSON true
                if eval_expr(expr.pred, penv) is True:
                    out.append(el)
            return out
        if isinstance(expr, Call):
            proj = cfg.projectors[expr.name]
            iters = {i for i, a in enumerate(expr.args) if isinstance(a, Iterate)}
            if iters:
                # array iteration: map the projector over the iterated
                # array(s) element-wise; fixed args broadcast; multiple
                # iterated args zip to the longest (short -> missing);
                # a missing/non-array source yields missing
                arrs: dict[int, list] = {}
                fixed: dict[int, Any] = {}
                for i, a in enumerate(expr.args):
                    if i in iters:
                        v = eval_expr(a.path, env)
                        if not isinstance(v, list):
                            return _MISSING
                        arrs[i] = v
                    else:
                        fixed[i] = eval_expr(a, env)
                n = max(len(v) for v in arrs.values())
                out_list = []
                for j in range(n):
                    penv = {"__clock__": env.get("__clock__")}
                    for i, p in enumerate(proj.params):
                        if i in arrs:
                            penv[p] = arrs[i][j] if j < len(arrs[i]) else _MISSING
                        else:
                            penv[p] = fixed[i]
                    for vn, vx in proj.vars:
                        penv[vn] = eval_expr(vx, penv)
                    res = eval_tree(trees[expr.name], penv, is_root=True)
                    _check_required(proj, res)
                    out_list.append(res)
                return out_list
            args = [eval_expr(a, env) for a in expr.args]
            penv = dict(zip(proj.params, args))
            penv["__clock__"] = env.get("__clock__")
            for vn, vx in proj.vars:  # projector-local vars, in order
                penv[vn] = eval_expr(vx, penv)
            res = eval_tree(trees[expr.name], penv, is_root=True)
            _check_required(proj, res)
            return res
        if isinstance(expr, Builtin):
            if expr.name == "$ListOf":
                return eval_expr(Arr(tuple(expr.args)), env)
            vals = [eval_expr(a, env) for a in expr.args]
            if expr.name == "$Not":
                # strict: true iff the value is NOT JSON true (missing,
                # false, and non-boolean all negate to true)
                return vals[0] is not True
            if expr.name == "$ToString":
                return _scalar_str(vals[0])
            if expr.name == "$ParseInt":
                s = _scalar_str(vals[0])
                if s is _MISSING:
                    return _MISSING
                import re as _re

                s2 = s.strip()
                # try_cast(long) parity: python int() additionally accepts
                # underscores ('1_0'), unicode digits and arbitrary
                # precision — all of which the SQL cast rejects (NULL)
                if not _re.fullmatch(r"[+-]?[0-9]+", s2):
                    return _MISSING
                v = int(s2)
                if not -(2**63) <= v <= 2**63 - 1:
                    return _MISSING
                return v
            if expr.name == "$ParseFloat":
                s = _scalar_str(vals[0])
                if s is _MISSING or "_" in s:
                    return _MISSING
                try:
                    return _num_out(float(s.strip()))
                except ValueError:
                    return _MISSING
            if expr.name == "$StrSplit":
                s, d = _scalar_str(vals[0]), vals[1]
                if s is _MISSING or not isinstance(d, str) or d == "":
                    return _MISSING  # ''.split raises; compile rejects it too
                return s.split(d)
            if expr.name == "$StrJoin":
                d, arr = vals
                if not isinstance(d, str) or not isinstance(arr, list):
                    return _MISSING
                parts = [_scalar_str(x) for x in arr]
                # array_join drops null elements (no delimiter for them)
                return d.join(p for p in parts if p is not _MISSING)
            if expr.name == "$MatchesRegex":
                s, pat = _scalar_str(vals[0]), vals[1]
                # a missing subject or a data-derived pattern re rejects
                # compares false
                rx = _regex(pat) if isinstance(pat, str) else None
                if s is _MISSING or rx is None:
                    return False
                return rx.fullmatch(s) is not None
            if expr.name == "$MergeJSON":

                def _mj(a, b, sa=None):
                    if a is _MISSING:
                        return b
                    if b is _MISSING:
                        return a
                    if isinstance(a, dict) and isinstance(b, dict):
                        out = dict(a)  # a's key order, b's new keys appended
                        # canonical-form rule: a merge of two DATA-derived
                        # objects (neither built by a projector) re-sorts its
                        # keys — data objects are canon-sorted on entry, and
                        # the column backend's runtime variant merge renders
                        # sorted keys (variant's binary form sorts). A merge
                        # touching a projector result keeps declared order
                        # (the column backend's static named_struct path).
                        proj_side = isinstance(a, _ProjDict) or isinstance(
                            b, _ProjDict
                        )
                        for k, v2 in b.items():
                            if k in out:
                                sub = sa.get(k) if isinstance(sa, dict) else None
                                out[k] = _mj(out[k], v2, sub)
                            elif (
                                isinstance(sa, dict)
                                and k in sa
                                and sa[k] is None  # declared LEAF on the left
                                and (v2 is None or v2 == "" or v2 == [])
                            ):
                                # the left projector DECLARED this key but
                                # wrote nil (so the runtime dict omitted it);
                                # the column backend still runs its conflict
                                # rule against the left's NULL column, where
                                # a nil right side resolves to NULL and
                                # vanishes — so do not insert it here either
                                continue
                            else:
                                out[k] = v2
                        if proj_side:
                            return _ProjDict(out)
                        return dict(sorted(out.items()))
                    if isinstance(a, dict) or isinstance(b, dict):
                        return b  # shape change replaces outright
                    if b is None or b == "" or b == []:
                        return a  # writing nil is a no-op
                    return b

                arg_shapes = _mj_arg_shapes(expr)
                res = vals[0]
                sa = arg_shapes[0]
                for v, sb in zip(vals[1:], arg_shapes[1:]):
                    res = _mj(res, v, sa)
                    sa = (
                        _merge_shapes(sa, sb)
                        if sa is not None and sb is not None
                        else None
                    )
                # Key-order parity with the column backend: its merged
                # named_struct keeps every DECLARED key at the left
                # argument's position even when that key was written nil
                # (the nil column is only dropped later, by to_json) —
                # while this backend never inserted the nil key, so a
                # right-side value for it would append out of place.
                # Reorder by the merged declared shape (runtime keys of a
                # projector result are always a subset of its nest_fields
                # tree). Shape unknown (non-projector args) -> insertion
                # order stands; the column backend rejects those anyway.
                shape = _mj_shape(expr)
                if shape is not None and isinstance(res, dict):
                    res = _reorder_by_shape(res, shape)
                return res
            if expr.name in ("$IsNil", "$IsNotNil"):
                v = vals[0]
                nil = (
                    v is _MISSING or v is None or v == "" or v == [] or v == {}
                )
                return nil if expr.name == "$IsNil" else not nil
            if expr.name == "$Void":
                return _MISSING  # always nil; arguments evaluated, discarded
            if expr.name == "$ListLen":
                return len(vals[0]) if isinstance(vals[0], list) else _MISSING
            if expr.name in ("$Sum", "$Sub", "$Mul", "$Div", "$Mod"):
                nums = [_num_coerce(v) for v in vals]
                if any(n is _MISSING for n in nums):
                    return _MISSING
                if expr.name == "$Sum":
                    r = nums[0]
                    for x in nums[1:]:
                        r = r + x  # left-assoc, same IEEE order as columns
                elif expr.name == "$Mul":
                    r = nums[0]
                    for x in nums[1:]:
                        r = r * x
                elif expr.name == "$Sub":
                    r = nums[0] - nums[1]
                elif expr.name == "$Mod":
                    import math as _math

                    if nums[1] == 0.0:
                        return _MISSING
                    # math.fmod == SQL's double %: the dividend's sign
                    # (python's % operator takes the divisor's — wrong here)
                    r = _math.fmod(nums[0], nums[1])
                else:
                    if nums[1] == 0.0:
                        return _MISSING
                    r = nums[0] / nums[1]
                return _num_out(r)
            if expr.name in ("$Gt", "$Lt", "$Gte", "$Lte"):
                a, b = _num_coerce(vals[0]), _num_coerce(vals[1])
                if a is _MISSING or b is _MISSING:
                    return False
                return {
                    "$Gt": a > b,
                    "$Lt": a < b,
                    "$Gte": a >= b,
                    "$Lte": a <= b,
                }[expr.name]
            if expr.name == "$CurrentTime":
                tr = _time_translate(vals[0])
                if tr is None:
                    return _MISSING  # dynamic pattern outside the subset
                clock = env.get("__clock__")
                if clock:
                    dt = _clock_dt(clock)
                else:
                    from datetime import datetime as _dtm, timezone as _tz

                    dt = _dtm.now(_tz.utc).replace(tzinfo=None)
                return dt.strftime(tr[0])
            if expr.name == "$Trim":
                s = _scalar_str(vals[0])
                # Spark's trim strips spaces (0x20) only — not all whitespace
                return _MISSING if s is _MISSING else s.strip(" ")
            if expr.name == "$SubStr":
                s = _scalar_str(vals[0])
                start, end = vals[1], vals[2]
                if s is _MISSING or not (
                    _is_int(start) and _is_int(end) and 0 <= start <= end
                ):
                    return _MISSING
                return s[start:end]
            if expr.name == "$ReformatTime":
                s = _scalar_str(vals[0])
                tr_in = _time_translate(vals[1])
                tr_out = _time_translate(vals[2])
                if (
                    s is _MISSING
                    or tr_in is None
                    or tr_out is None
                    or not _FULL_DATE <= tr_in[1]
                ):
                    return _MISSING
                from datetime import datetime as _datetime

                try:
                    dt = _datetime.strptime(s, tr_in[0])
                except ValueError:
                    return _MISSING
                # strict-parse parity: strptime tolerates unpadded fields
                # ("2024-1-05" under %m) that Spark's corrected parser
                # rejects — requiring the canonical re-rendering to equal
                # the input enforces the same zero-padded forms
                if dt.strftime(tr_in[0]) != s:
                    return _MISSING
                if not 1000 <= dt.year <= 9999:
                    return _MISSING  # _year_guard's 4-digit window
                return dt.strftime(tr_out[0])
            if expr.name in ("$ParseTime", "$SplitTime", "$TimeAdd"):
                # shared strict parse (format-first argument order for
                # $ParseTime/$SplitTime; $TimeAdd is (t, fmt, n, unit))
                fmt_v = vals[1] if expr.name == "$TimeAdd" else vals[0]
                t_v = vals[0] if expr.name == "$TimeAdd" else vals[1]
                s = _scalar_str(t_v)
                tr = _time_translate(fmt_v)
                if s is _MISSING or tr is None or not _FULL_DATE <= tr[1]:
                    return _MISSING
                from datetime import datetime as _datetime, timedelta as _td

                try:
                    dt = _datetime.strptime(s, tr[0])
                except ValueError:
                    return _MISSING
                if dt.strftime(tr[0]) != s:  # same strict-parse parity
                    return _MISSING
                if not 1000 <= dt.year <= 9999:
                    return _MISSING  # _year_guard's 4-digit window
                if expr.name == "$ParseTime":
                    return dt.strftime("%Y-%m-%dT%H:%M:%S")
                if expr.name == "$SplitTime":
                    return [
                        dt.strftime(p)
                        for p in ("%Y", "%m", "%d", "%H", "%M", "%S")
                    ]
                # $TimeAdd
                n, unit = vals[2], vals[3]
                if not _is_int(n) or unit not in _TIMEADD_UNITS:
                    return _MISSING
                if unit in ("years", "months"):
                    import calendar as _cal

                    months = n * 12 if unit == "years" else n
                    m0 = dt.year * 12 + (dt.month - 1) + months
                    y2, m2 = divmod(m0, 12)
                    m2 += 1
                    if not 1 <= y2 <= 9999:
                        return _MISSING
                    # clamp at month end only on overflow — exactly the
                    # SQL year-month interval rule the column backend uses
                    d2 = min(dt.day, _cal.monthrange(y2, m2)[1])
                    dt2 = dt.replace(year=y2, month=m2, day=d2)
                else:
                    try:
                        dt2 = dt + _td(**{unit: n})
                    except OverflowError:
                        return _MISSING
                if not 1000 <= dt2.year <= 9999:
                    return _MISSING  # years where the renderings agree
                return dt2.strftime(tr[0])
            if expr.name == "$ParseUnixTime":
                unit, out_fmt, tz = vals[0], vals[2], vals[3]
                tr = _time_translate(out_fmt)
                if unit not in ("s", "ms") or tz != "UTC" or tr is None:
                    return _MISSING
                n = _num_coerce(vals[1])
                lim = (
                    _EPOCH_SECS_MAX * 1000 + 999
                    if unit == "ms"
                    else _EPOCH_SECS_MAX
                )
                if n is _MISSING or not float(n).is_integer() or not 0 <= n <= lim:
                    return _MISSING
                from datetime import datetime as _datetime, timedelta as _td

                iv = int(n)
                dt = _datetime(1970, 1, 1) + (
                    _td(milliseconds=iv) if unit == "ms" else _td(seconds=iv)
                )
                return dt.strftime(tr[0])
            if expr.name == "$ListCat":
                if any(not isinstance(v, list) for v in vals):
                    return _MISSING
                out_l: list = []
                for v in vals:
                    out_l.extend(v)
                return out_l
            if expr.name == "$Eq":
                a, b = vals
                if a is _MISSING or b is _MISSING:
                    # column backend: to_json(NULL) = NULL -> NULL comparison,
                    # never satisfied
                    return False
                return json_canon.dumps(json_canon.canon_sort(a)) == json_canon.dumps(
                    json_canon.canon_sort(b)
                )
            if expr.name == "$NEq":
                a, b = vals
                if a is _MISSING or b is _MISSING:
                    return True  # exactly `not $Eq`
                return json_canon.dumps(json_canon.canon_sort(a)) != json_canon.dumps(
                    json_canon.canon_sort(b)
                )
            if expr.name == "$And":
                return all(v is True for v in vals)
            if expr.name == "$Or":
                return any(v is True for v in vals)
            if expr.name == "$Flatten":
                v = vals[0]
                if not isinstance(v, list):
                    return _MISSING
                out_l = []
                for el in v:
                    if isinstance(el, list):
                        out_l.extend(el)
                    else:
                        out_l.append(el)
                return out_l
            if expr.name == "$Unique":
                v = vals[0]
                if not isinstance(v, list):
                    return _MISSING
                seen_r: set = set()
                out_l = []
                for el in v:
                    k = json_canon.dumps(json_canon.canon_sort(el))
                    if k not in seen_r:
                        seen_r.add(k)
                        out_l.append(el)
                return out_l
            if expr.name == "$Type":
                v = vals[0]
                if v is _MISSING:
                    return _MISSING
                if v is None:
                    return "null"
                if v is True or v is False:
                    return "bool"
                if isinstance(v, (int, float)):
                    return "number"
                if isinstance(v, str):
                    return "string"
                if isinstance(v, list):
                    return "array"
                return "container"
            if expr.name in ("$SortAndTakeTop", "$UnionBy"):
                v = vals[0]
                if not isinstance(v, list):
                    return _MISSING

                def fkey(el, key):
                    # rendering of el[key], '' / sentinel when missing —
                    # the column backend's coalesce(to_json(...), ...)
                    cur = el
                    for p in key.split("."):
                        if isinstance(cur, dict) and p in cur:
                            cur = cur[p]
                        else:
                            return None
                    return json_canon.dumps(json_canon.canon_sort(cur))

                if expr.name == "$SortAndTakeTop":
                    key, desc = vals[1], vals[2]
                    if desc not in ("true", "false") or not isinstance(
                        key, str
                    ):
                        return _MISSING
                    if not v:
                        return _MISSING
                    s = sorted(
                        v,
                        key=lambda el: (
                            fkey(el, key) or "",
                            json_canon.dumps(json_canon.canon_sort(el)),
                        ),
                    )
                    return s[-1] if desc == "true" else s[0]
                keys = vals[1:]
                if any(not isinstance(k, str) for k in keys):
                    return _MISSING
                seen_u: set = set()
                out_l = []
                for el in v:
                    kt = "\x00".join(
                        fkey(el, k) if fkey(el, k) is not None
                        else "\x00missing"
                        for k in keys
                    )
                    if kt not in seen_u:
                        seen_u.add(kt)
                        out_l.append(el)
                return out_l
            if expr.name == "$If":
                cond = vals[0]
                if cond is True:
                    return vals[1]
                return vals[2] if len(vals) == 3 else _MISSING
            if expr.name == "$Hash":
                v = vals[0]
                if v is _MISSING:
                    return _MISSING  # missing path: sha2(NULL) is NULL
                # a JSON null VALUE hashes its rendering 'null' (the column
                # backend's to_json(variant-null) -> 'null'), distinct from a
                # missing path
                return hashlib.sha256(
                    json_canon.dumps(json_canon.canon_sort(v)).encode()
                ).hexdigest()
            if expr.name == "$IntHash":
                v = vals[0]
                if v is _MISSING:
                    return _MISSING
                digest = hashlib.sha256(
                    json_canon.dumps(json_canon.canon_sort(v)).encode()
                ).hexdigest()
                return int(digest[:13], 16)  # 52 bits: integer envelope
            if expr.name == "$DebugString":
                v = vals[0]
                if v is _MISSING:
                    return _MISSING
                return json_canon.dumps(json_canon.canon_sort(v))
            if expr.name == "$StrFmt":
                # runtime-tolerant like the other pattern builtins: a bad
                # data-derived format is nil (a literal one was checked at
                # parse)
                fmt = vals[0]
                parsed = _strfmt_segments(fmt) if isinstance(fmt, str) else None
                if parsed is None or parsed[1] != len(vals) - 1:
                    return _MISSING
                segs = parsed[0]
                forms = [_scalar_str(v) for v in vals[1:]]
                if any(s is _MISSING for s in forms):
                    return _MISSING  # concat null-propagation
                out_s: list[str] = []
                ai = 0
                for seg in segs:
                    if seg is None:
                        out_s.append(forms[ai])
                        ai += 1
                    else:
                        out_s.append(seg)
                return "".join(out_s)
            if expr.name == "$UUID":
                import uuid as _uuid

                return str(_uuid.uuid4())
            if expr.name == "$UnnestArrays":
                v = vals[0]
                if not isinstance(v, dict):
                    return _MISSING
                pairs: list = []
                for k2, val2 in v.items():
                    if isinstance(val2, list):
                        pairs.extend({"k": k2, "v": el} for el in val2)
                    else:
                        pairs.append({"k": k2, "v": val2})
                return pairs
            forms = [_scalar_str(v) for v in vals]
            if any(f is _MISSING for f in forms):
                return _MISSING  # column concat/upper null-propagate
            if expr.name == "$ToUpper":
                return forms[0].upper().translate(_SPARK_UPPER_EXTRA)
            if expr.name == "$ToLower":
                return forms[0].lower().translate(_SPARK_LOWER_EXTRA)
            if expr.name == "$StrCat":
                return "".join(forms)
            raise MappingConfigError(f"cannot evaluate {expr!r}")
        if isinstance(expr, Arr):
            # a missing element keeps its POSITION as JSON null (arrays keep
            # null elements in to_json, unlike struct fields)
            return [
                None if (v := eval_expr(it, env)) is _MISSING else v
                for it in expr.items
            ]
        raise MappingConfigError(f"cannot evaluate {expr!r}")

    def eval_tree(tree: dict, env, is_root: bool = False) -> dict:
        out: dict = _ProjDict()
        if is_root:
            # `dest` = this projector instance's output under construction
            # (shared by reference: later fields see earlier writes only)
            env = {**env, "dest": out}
        for name, (kind, val) in tree.items():
            if kind == "node":
                out[name] = eval_tree(val, env)
            elif kind == "arr":
                out[name] = [
                    v for it in val if (v := eval_expr(it, env)) is not _MISSING
                ]
            else:
                v = eval_expr(val, env)
                if v is not _MISSING:
                    out[name] = v
        return out

    def run(root_obj, clock: str | None = None) -> dict:
        # canonical form for data-derived values: sorted object keys,
        # applied ONCE at the root (matches the column backend's VARIANT
        # behavior, which sorts object keys in its binary form)
        root_obj = json_canon.canon_sort(root_obj)
        env: dict[str, Any] = {"root": root_obj, "__clock__": clock}
        for vn, vx in cfg.vars:  # top-level var bindings, in order
            env[vn] = eval_expr(vx, env)
        out: dict[str, list] = {}
        for tgt, expr in cfg.outs:
            v = eval_expr(expr, env)
            out.setdefault(tgt, [])
            if v is not _MISSING:
                out[tgt].append(v)
        return out

    return run


def compile_mapping(config_text: str) -> CompiledMapping:
    return CompiledMapping(config_text)
