"""Mapping-core parity tests.

Mirrors the reference's correctness contract:
* MappingFnTest.java:52-150 — golden outputs, bad-input error semantics,
  fail-fast invalid config.
* src/test/resources/streaming/e2e/test{1,2,3} — root_mapping textproto
  corpus: {"timestamp":N,"message":{...}} -> {"testOutput":[{...}]}.
Both execution backends (Catalyst VARIANT columns, pandas/Arrow closure)
must produce byte-identical output.
"""

import json
import re

import pytest

from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
    compile_mapping,
)
from healthcare_data_harmonization_dataflow_spark.functions.mapping_lang import (
    LITERAL_ARGS,
    MappingConfigError,
)
from healthcare_data_harmonization_dataflow_spark.model.errors import err_rows, ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping

# the exact config from MappingFnTest.java:52-56
TEST_CONFIG = """
out Output: Test(root);
def Test(input) {
  foo: input.bar;
}
"""

# the e2e corpus config (identical.mapping_config.textproto)
E2E_CONFIG = """
root_mapping {
  value_source { from_source: "." }
  target_object: "testOutput"
}
"""

CLOCK = "2020-01-01T00:00:00.000Z"


# ------------------------------------------------------------- compiler units
def test_invalid_config_fails_fast():
    # MappingFnTest.java:66-75: random string config -> init throws
    with pytest.raises(MappingConfigError):
        compile_mapping("random string that is not a config")
    with pytest.raises(MappingConfigError):
        compile_mapping("")
    with pytest.raises(MappingConfigError):
        compile_mapping("out X: Missing(root);")  # unknown projector
    with pytest.raises(MappingConfigError):
        compile_mapping("def F(a) { x: a.b; }")  # no output


def test_python_backend_goldens():
    eng = compile_mapping(TEST_CONFIG)
    assert eng.transform('{"bar":"test"}') == '{"Output":[{"foo":"test"}]}'
    assert eng.transform('{"bar":2}') == '{"Output":[{"foo":2}]}'
    from healthcare_data_harmonization_dataflow_spark.model.errors import (
        RecoverableMappingError,
    )

    with pytest.raises(RecoverableMappingError):
        eng.transform("{")


def test_python_backend_e2e_corpus():
    eng = compile_mapping(E2E_CONFIG)
    # harness extracts `message` before mapping (SURVEY §5 e2e correction)
    assert (
        eng.transform('{"key1":"value1","key2":"value2"}')
        == '{"testOutput":[{"key1":"value1","key2":"value2"}]}'
    )


# ------------------------------------------------------------ operator (Spark)
@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_mapping_operator_goldens(spark, backend):
    # MappingFnTest.java:105-150: 1 and 2 elements -> exact golden JSON
    df = spark.createDataFrame(
        [("a", '{"bar":"test"}'), ("b", '{"bar":2}')], "id string, data string"
    )
    res = apply_mapping(df, TEST_CONFIG, backend=backend, clock=CLOCK)
    oks = {r["id"]: r["ok"] for r in ok_rows(res).collect()}
    assert oks == {"a": '{"Output":[{"foo":"test"}]}', "b": '{"Output":[{"foo":2}]}'}
    assert err_rows(res).count() == 0


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_mapping_operator_bad_input(spark, backend):
    # MappingFnTest.java:77-103: '{' -> empty output, one ErrorEntry, sources=[id]
    df = spark.createDataFrame([("msgid1", "{")], "id string, data string")
    res = apply_mapping(df, TEST_CONFIG, backend=backend, clock=CLOCK)
    assert ok_rows(res).count() == 0
    errs = err_rows(res).select("err.*").collect()
    assert len(errs) == 1
    assert errs[0]["sources"] == ["msgid1"]
    assert errs[0]["step"] == "mapping"
    assert errs[0]["timestamp"] == CLOCK


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_mapping_missing_field_omitted(spark, backend):
    # Whistle nil-propagation: missing path -> field omitted
    df = spark.createDataFrame([("a", '{"other":1}')], "id string, data string")
    res = apply_mapping(df, TEST_CONFIG, backend=backend, clock=CLOCK)
    assert ok_rows(res).collect()[0]["ok"] == '{"Output":[{}]}'


def test_backends_agree(spark):
    rows = [
        ("1", '{"bar":"x"}'),
        ("2", '{"bar":2}'),
        ("3", '{"bar":2.5}'),
        ("4", '{"bar":true}'),
        ("5", '{"other":"y"}'),
        ("6", '{"bar":{"nested":[1,2,{"deep":"v"}]}}'),
        ("6b", '{"bar":{"zz":1,"aa":{"y":2,"x":3}}}'),  # unsorted keys -> canon-sorted
        ("7", '{"bar":"üñíçødé ✓"}'),
        ("8", "not json"),
        ("9", None),
    ]
    df = spark.createDataFrame(rows, "id string, data string")
    a = {
        r["id"]: (r["ok"], r["err"] is not None)
        for r in apply_mapping(df, TEST_CONFIG, backend="columns", clock=CLOCK).collect()
    }
    b = {
        r["id"]: (r["ok"], r["err"] is not None)
        for r in apply_mapping(df, TEST_CONFIG, backend="pandas", clock=CLOCK).collect()
    }
    # columns backend leaves ok null on error rows; compare ok-by-ok
    for k in a:
        assert a[k] == b[k], f"backend mismatch for id={k}: {a[k]} vs {b[k]}"


def test_e2e_corpus_spark(spark):
    # the three e2e fixtures, envelope-stripped by a select (the
    # MapElements msg->Mappable projection analogue)
    import json

    from pyspark.sql import functions as F

    fixtures = [
        {"timestamp": 3, "message": {"key1": "value1", "key2": "value2"}},
        {"timestamp": 1, "message": {"key3": "value3", "key4": "value4"}},
        {"timestamp": 1, "message": {"key5": "value5", "key6": "value6"}},
    ]
    goldens = [
        '{"testOutput":[{"key1":"value1","key2":"value2"}]}',
        '{"testOutput":[{"key3":"value3","key4":"value4"}]}',
        '{"testOutput":[{"key5":"value5","key6":"value6"}]}',
    ]
    df = spark.createDataFrame(
        [(str(i), json.dumps(f, separators=(",", ":"))) for i, f in enumerate(fixtures)],
        "id string, raw string",
    )
    # envelope strip: raw -> message JSON (kept as exact source bytes via variant)
    stripped = df.select(
        "id",
        F.to_json(F.try_variant_get(F.try_parse_json("raw"), "$.message", "variant")).alias("data"),
    )
    res = apply_mapping(stripped, E2E_CONFIG, backend="columns", clock=CLOCK)
    got = [r["ok"] for r in ok_rows(res).orderBy("id").collect()]
    assert got == goldens


def test_column_backend_is_codegen(spark):
    # the hot path must be whole-stage codegen, no Python (SURVEY §4)
    df = spark.createDataFrame([("a", '{"bar":1}')], "id string, data string")
    res = apply_mapping(df, TEST_CONFIG, backend="columns", clock=CLOCK)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_array_index_paths_both_backends(spark):
    """input.items[0].name style access — VARIANT path on the column
    backend, list indexing on the pandas backend, identical output incl.
    out-of-range (field omitted) and non-array (field omitted)."""
    cfg = (
        "out Output: Pick(root);\n"
        "def Pick(input) { first: input.items[0].name; second: input.items[1]; }"
    )
    rows = [
        ("a", '{"items":[{"name":"x"},7,8]}'),
        ("b", '{"items":[{"name":"y"}]}'),       # [1] out of range
        ("c", '{"items":{"name":"z"}}'),          # not an array
        ("d", '{"other":1}'),                     # missing entirely
    ]
    df = spark.createDataFrame(rows, "id string, data string")
    for backend in ("columns", "pandas"):
        got = {
            r["id"]: r["ok"]
            for r in apply_mapping(df, cfg, backend=backend).collect()
        }
        assert got["a"] == '{"Output":[{"first":"x","second":7}]}', backend
        assert got["b"] == '{"Output":[{"first":"y"}]}', backend
        assert got["c"] == '{"Output":[{}]}', backend
        assert got["d"] == '{"Output":[{}]}', backend


def test_array_index_validation():
    import pytest as _pytest

    from healthcare_data_harmonization_dataflow_spark.functions.mapping_lang import (
        MappingConfigError,
        parse_mapping_config,
    )

    with _pytest.raises(MappingConfigError, match="non-negative integer"):
        parse_mapping_config(
            "out O: P(root);\ndef P(input) { a: input.items[1.5]; }"
        )


# -------------------------------------------- fatal vs recoverable (W3)
def test_bad_input_is_recoverable_and_classified(spark):
    """MappingFnTest.java:77-103 + ErrorEnabledDoFn.java:75-77: malformed
    input JSON is a RecoverableMappingError -> dead-letter row, pipeline
    continues, good rows still map."""
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        compile_mapping,
    )
    from healthcare_data_harmonization_dataflow_spark.model.errors import (
        RecoverableMappingError,
    )

    eng = compile_mapping(TEST_CONFIG)
    with pytest.raises(RecoverableMappingError):
        eng.transform("not json at all")

    df = spark.createDataFrame(
        [("a", '{"bar": 1}'), ("b", "*** garbage ***")], "id string, data string"
    )
    res = apply_mapping(df, TEST_CONFIG, backend="pandas", clock=CLOCK)
    assert ok_rows(res).count() == 1
    err = err_rows(res).collect()[0]["err"]
    assert err["sources"] == ["b"] and err["step"] == "mapping"


def test_nonrecoverable_error_crashes_job(spark):
    """The other half of ErrorEnabledDoFn.java:42-45: an error NOT accepted
    by report_only must propagate and fail the job instead of silently
    dead-lettering the corpus."""
    df = spark.createDataFrame(
        [("a", '{"bar": 1}'), ("b", "*** garbage ***")], "id string, data string"
    )
    res = apply_mapping(
        df, TEST_CONFIG, backend="pandas", clock=CLOCK, report_only=lambda e: False
    )
    with pytest.raises(Exception) as ei:
        res.collect()
    assert "RecoverableMappingError" in str(ei.value)


# ------------------------------------- extended Whistle subset (round 2)
NESTED_CONFIG = """
out Output: Nest(root);
def Nest(input) {
  meta.cat: $ToUpper(input.cat);
  meta.sig: $Hash(input.k);
  pair: [input.k, "x", input.nope];
  tag: $StrCat(input.cat, "-suffix");
  lower: $ToLower($ToUpper(input.cat));
}
"""

CHAINED_CONFIG = """
out Output: Outer(Inner(root));
def Inner(input) { a.b: input.k; s: $ToUpper(input.cat); }
def Outer(x) { picked: x.a.b; up: x.s; gone: x.zzz; whole: x.a; }
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_nested_targets_builtins_arrays_golden(spark, backend):
    """Nested target fields, $ToUpper/$ToLower/$StrCat/$Hash, array
    construction with positional nulls — byte-identical on both backends.
    sha256('69') pinned so the golden breaks if $Hash's rendering drifts."""
    df = spark.createDataFrame(
        [("a", '{"cat":"click","k":69}')], "id string, data string"
    )
    res = ok_rows(apply_mapping(df, NESTED_CONFIG, backend=backend, clock=CLOCK))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"meta":{"cat":"CLICK","sig":'
        '"c75cb66ae28d8ebc6eded002c28a8ba0d06d3a78c6b5cbf9b2ade051f0775ac4"},'
        '"pair":[69,"x",null],"tag":"click-suffix","lower":"click"}]}'
    )


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_case_mapping_covers_unicode16_pairs(spark, backend):
    """$ToUpper/$ToLower map the case pairs Unicode 16 added (Garay,
    U+A7CB/U+0264, U+1C89/U+1C8A) the way Spark does on both backends,
    although Python's own str.upper/lower leave them unchanged."""
    cfg = "out O: P(root);\ndef P(i) { up: $ToUpper(i.s); lo: $ToLower(i.s); }"
    s = "\U00010d70\U00010d50ɤꟋᲊᲉa"
    df = spark.createDataFrame(
        [("a", json.dumps({"s": s}))], "id string, data string"
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    out = json.loads(res.collect()[0]["ok"])["O"][0]
    assert out == {
        "up": "\U00010d50\U00010d50ꟋꟋᲉᲉA",
        "lo": "\U00010d70\U00010d70ɤɤᲊᲊa",
    }


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_projector_result_as_argument(spark, backend):
    """A projector result flows into another projector; field access into it
    resolves statically in the column backend, dynamically in pandas —
    identical output, including omission of a missing field."""
    df = spark.createDataFrame([("a", '{"cat":"go","k":7}')], "id string, data string")
    res = ok_rows(apply_mapping(df, CHAINED_CONFIG, backend=backend, clock=CLOCK))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"picked":7,"up":"GO","whole":{"b":7}}]}'
    )


def test_extended_config_compile_errors():
    with pytest.raises(MappingConfigError):
        compile_mapping("out X: $Nope(root);")  # unknown builtin
    with pytest.raises(MappingConfigError):
        compile_mapping("out X: $ToUpper(root, root);")  # arity
    with pytest.raises(MappingConfigError):
        # leaf/prefix conflict on nested targets
        compile_mapping("out O: P(root);\ndef P(i) { a: i.x; a.b: i.y; }")
    with pytest.raises(MappingConfigError):
        compile_mapping("out O: P(root);\ndef P(i) { a.b: i.x; a.b: i.y; }")


COND_CONFIG = """
out Output: C(root);
def C(input) {
  flag: $If($Eq(input.cat, "click"), "C", "NC");
  b: $Eq(input.k, 69);
  onlyif: $If(input.active, "yes");
  strict: $If(input.strbool, "coerced", "strict");
  missing_eq: $Eq(input.nope, input.also_nope);
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_conditionals_golden(spark, backend):
    """$If/$Eq: canonical-JSON equality, strictly-boolean conditions (a
    'true' STRING must not satisfy $If), missing-else omission, and
    missing-operand $Eq -> false — byte-identical on both backends."""
    rows = [
        ("a", '{"cat":"click","k":69,"active":true,"strbool":"true"}'),
        ("b", '{"cat":"view","k":2,"active":false,"strbool":true}'),
    ]
    df = spark.createDataFrame(rows, "id string, data string")
    got = {
        r["id"]: r["ok"]
        for r in ok_rows(apply_mapping(df, COND_CONFIG, backend=backend)).collect()
    }
    assert got == {
        "a": '{"Output":[{"flag":"C","b":true,"onlyif":"yes",'
             '"strict":"strict","missing_eq":false}]}',
        "b": '{"Output":[{"flag":"NC","b":false,'
             '"strict":"coerced","missing_eq":false}]}',
    }


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_out_append_skips_missing_keeps_json_null(spark, backend):
    """A missing out-expression appends NOTHING to the target array (Whistle
    nil-propagation); a JSON null VALUE appends null. Both backends agree —
    the column backend previously rendered missing as a null element."""
    cfg = "out X: root.nope;\nout X: root.k;\nout X: root.a;\nout Y: root.nope;"
    df = spark.createDataFrame([("a", '{"a":null,"k":1}')], "id string, data string")
    res = ok_rows(apply_mapping(df, cfg, backend=backend))
    assert res.collect()[0]["ok"] == '{"X":[1,null],"Y":[]}'


APPEND_CONFIG = """
out Output: A(root);
def A(input) {
  items[]: input.a;
  items[]: input.nope;
  items[]: input.b;
  meta.tags[]: $ToUpper(input.cat);
  empty[]: input.nope;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_append_targets_golden(spark, backend):
    """`path[]:` append targets accumulate produced values in declaration
    order: missing appends nothing, a JSON null VALUE appends null, nested
    append paths and builtin values work — byte-identical backends."""
    df = spark.createDataFrame(
        [("x", '{"a":1,"b":null,"cat":"go"}')], "id string, data string"
    )
    res = ok_rows(apply_mapping(df, APPEND_CONFIG, backend=backend))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"items":[1,null],"meta":{"tags":["GO"]},"empty":[]}]}'
    )


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_append_array_navigation(spark, backend):
    """Indexing into a projector's append-target array resolves dynamically
    (positions shift after missing-filtering); out-of-range omits."""
    cfg = (
        "out Output: B(A(root));\n"
        "def A(input) { items[]: input.a; items[]: input.nope; items[]: input.b; }\n"
        "def B(x) { first: x.items[0]; second: x.items[1]; far: x.items[9]; "
        "whole: x.items; }"
    )
    df = spark.createDataFrame([("x", '{"a":1,"b":7}')], "id string, data string")
    res = ok_rows(apply_mapping(df, cfg, backend=backend))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"first":1,"second":7,"whole":[1,7]}]}'
    )


def test_append_target_conflicts():
    with pytest.raises(MappingConfigError, match="conflicts"):
        compile_mapping("out O: P(root);\ndef P(i) { a: i.x; a[]: i.y; }")
    with pytest.raises(MappingConfigError, match="duplicate"):
        compile_mapping("out O: P(root);\ndef P(i) { a[]: i.x; a: i.y; }")


def test_nonscalar_builtin_arg_falls_back_cleanly(spark):
    """A builtin over a non-scalar (append-array projector field) must make
    the column backend raise MappingConfigError — so auto falls back to
    pandas — not crash with an unrelated error."""
    cfg = (
        "out Output: B(A(root));\n"
        "def A(input) { items[]: input.a; }\n"
        "def B(x) { up: $ToUpper(x.items); }"
    )
    m = compile_mapping(cfg)
    assert m.supports_columns() is False
    df = spark.createDataFrame([("x", '{"a":"v"}')], "id string, data string")
    # pandas semantics: non-scalar -> _MISSING -> field omitted
    assert ok_rows(apply_mapping(df, cfg)).collect()[0]["ok"] == '{"Output":[{}]}'


def test_append_array_in_expressions_falls_back(spark):
    """Review regression: an append-target array used inside array
    construction or $If branches must raise MappingConfigError in the
    column backend (-> clean pandas fallback), not PySparkTypeError."""
    for cfg in (
        "out Output: B(A(root));\ndef A(input) { items[]: input.a; }\n"
        "def B(x) { wrapped: [x.items]; }",
        "out Output: B(A(root));\ndef A(input) { items[]: input.a; }\n"
        "def B(x) { nested[]: x.items; }",
    ):
        m = compile_mapping(cfg)
        assert m.supports_columns() is False, cfg
    # since round 3 an append-array is a legal $If branch (same-elem arrays
    # merge in a when()): stays projective and agrees with pandas
    if_cfg = (
        "out Output: B(A(root));\ndef A(input) { items[]: input.a; }\n"
        "def B(x) { pick: $If(x.missing, x.items, x.items); }"
    )
    assert compile_mapping(if_cfg).supports_columns() is True
    dfi = spark.createDataFrame([("x", '{"a":1}')], "id string, data string")
    for be in ("columns", "pandas"):
        got = ok_rows(apply_mapping(dfi, if_cfg, backend=be)).collect()[0]["ok"]
        assert got == '{"Output":[{"pick":[1]}]}', be
    df = spark.createDataFrame([("x", '{"a":1}')], "id string, data string")
    res = ok_rows(
        apply_mapping(
            df,
            "out Output: B(A(root));\ndef A(input) { items[]: input.a; }\n"
            "def B(x) { wrapped: [x.items]; }",
        )
    )
    assert res.collect()[0]["ok"] == '{"Output":[{"wrapped":[[1]]}]}'


def test_custom_report_only_applies_on_projective_configs(spark):
    """Review regression: report_only must not be silently dropped when the
    config is projective (auto would pick the columns backend)."""
    df = spark.createDataFrame([("b", "*** garbage ***")], "id string, data string")
    res = apply_mapping(df, TEST_CONFIG, report_only=lambda e: False)
    with pytest.raises(Exception) as ei:
        res.collect()
    assert "RecoverableMappingError" in str(ei.value)


# ------------------------------------------- round-3 Whistle breadth: var/if/iterate
VAR_CONFIG = """
var who: root.name;
out Output: P(root);
out Names: who;
def P(input) {
  var k: input.k;
  var tag: $StrCat($ToUpper(input.name), "-", k);
  n: k;
  label: tag;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_var_bindings_golden(spark, backend):
    """Top-level and projector-local var bindings, each referencing params
    and earlier vars — byte-identical on both backends."""
    df = spark.createDataFrame([("a", '{"name":"bo","k":3}')], "id string, data string")
    res = ok_rows(apply_mapping(df, VAR_CONFIG, backend=backend, clock=CLOCK))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"n":3,"label":"BO-3"}],"Names":["bo"]}'
    )


def test_var_binding_validation():
    # vars must precede fields in a projector body
    with pytest.raises(MappingConfigError, match="top of a projector body"):
        compile_mapping("out O: P(root);\ndef P(i) { a: i.x; var v: i.y; b: v; }")
    # top-level vars must precede out statements
    with pytest.raises(MappingConfigError, match="precede out"):
        compile_mapping("out O: root.x;\nvar v: root.y;")
    # a var may not shadow a param
    with pytest.raises(MappingConfigError, match="shadows"):
        compile_mapping("out O: P(root);\ndef P(i) { var i: i.x; a: i; }")
    # var exprs see only earlier bindings
    with pytest.raises(MappingConfigError, match="unbound"):
        compile_mapping("out O: P(root);\ndef P(i) { var a: b; var b: i.x; c: a; }")


IF_CONFIG = """
out Output: P(root);
def P(input) {
  if $Eq(input.type, "a") {
    cat: "alpha";
    only_then: input.k;
    tags[]: "t-then";
  } else {
    cat: "other";
    only_else: input.type;
    tags[]: "t-else";
  }
  if input.flag {
    f: "on";
    if $Eq(input.k, 1) {
      deep: "one";
    }
  }
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_if_else_blocks_golden(spark, backend):
    """Block conditionals: merged both-branch leaf, branch-only fields,
    conditional append targets, nested if, bare-path condition (strict
    boolean: missing/non-bool flag -> branch not taken)."""
    df = spark.createDataFrame(
        [
            ("a", '{"type":"a","k":1,"flag":true}'),
            ("b", '{"type":"b","k":2}'),
            ("c", '{"type":"a","k":2,"flag":"true"}'),  # string must not coerce
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, IF_CONFIG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"cat":"alpha","only_then":1,"tags":["t-then"],'
        '"f":"on","deep":"one"}]}'
    )
    assert oks["b"] == (
        '{"Output":[{"cat":"other","tags":["t-else"],"only_else":"b"}]}'
    )
    assert oks["c"] == (
        '{"Output":[{"cat":"alpha","only_then":2,"tags":["t-then"]}]}'
    )


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_not_builtin_golden(spark, backend):
    """$Not is strict: true iff the value is NOT JSON true — false, missing
    and non-boolean values all negate to true."""
    cfg = """
out Output: P(root);
def P(input) {
  not_true: $Not(input.t);
  not_false: $Not(input.f);
  not_missing: $Not(input.nope);
  not_str: $Not(input.s);
}
"""
    df = spark.createDataFrame(
        [("a", '{"t":true,"f":false,"s":"true"}')], "id string, data string"
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"not_true":false,"not_false":true,'
        '"not_missing":true,"not_str":true}]}'
    )


ITER_CONFIG = """
out Output: P(root);
def P(input) {
  people: Person(input.people[], input.org);
}
def Person(p, org) {
  name: $ToUpper(p.name);
  org: org;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_iteration_golden(spark, backend):
    """Array iteration Proj(input.items[]): the projector maps element-wise
    (fixed args broadcast); empty array -> empty array; missing or
    non-array source -> field omitted."""
    df = spark.createDataFrame(
        [
            ("a", '{"people":[{"name":"bo"},{"name":"al"}],"org":"x"}'),
            ("b", '{"people":[],"org":"y"}'),
            ("c", '{"org":"z"}'),
            ("d", '{"people":"oops","org":"w"}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, ITER_CONFIG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"people":[{"name":"BO","org":"x"},{"name":"AL","org":"x"}]}]}'
    )
    assert oks["b"] == '{"Output":[{"people":[]}]}'
    assert oks["c"] == '{"Output":[{}]}'
    assert oks["d"] == '{"Output":[{}]}'


def test_iteration_validation_and_fallback(spark):
    # iteration outside a projector-call argument is rejected at compile
    with pytest.raises(MappingConfigError, match="projector-call argument"):
        compile_mapping("out O: root.items[];")
    with pytest.raises(MappingConfigError, match="projector-call argument"):
        compile_mapping(
            "out O: P(root);\ndef P(i) { x: $ToUpper(i.items[]); }"
        )
    # two iterated args: zip-to-longest semantics — F.zip_with in the
    # column backend (the short side's NULL elements drop their fields,
    # matching pandas' pad-with-_MISSING); 3+ arrays stay pandas-only
    zip_cfg = """
out Output: P(root);
def P(input) { pairs: Z(input.a[], input.b[]); }
def Z(x, y) { l: x; r: y; }
"""
    m = compile_mapping(zip_cfg)
    assert m.supports_columns() is True
    df = spark.createDataFrame(
        [("a", '{"a":[1,2,3],"b":["x","y"]}'), ("b", '{"a":[1],"b":7}')],
        "id string, data string",
    )
    golden = {
        "a": '{"Output":[{"pairs":[{"l":1,"r":"x"},{"l":2,"r":"y"},{"l":3}]}]}',
        # non-array zip source: the whole call is missing -> field omitted
        "b": '{"Output":[{}]}',
    }
    for backend in ("columns", "pandas"):
        res = ok_rows(apply_mapping(df, zip_cfg, backend=backend, clock=CLOCK))
        assert {r["id"]: r["ok"] for r in res.collect()} == golden, backend
    three_cfg = """
out Output: P(root);
def P(input) { t: Z(input.a[], input.b[], input.c[]); }
def Z(x, y, z) { l: x; m: y; r: z; }
"""
    # 3+-array zip: arrays_zip is n-ary with the same zip-to-longest /
    # NULL-pad / null-intolerant-source semantics — stays codegen
    assert compile_mapping(three_cfg).supports_columns() is True
    df3 = spark.createDataFrame(
        [
            ("a", '{"a":[1,2,3],"b":["x"],"c":[true,false]}'),
            ("b", '{"a":[1],"b":["x"],"c":5}'),  # non-array source -> nil
        ],
        "id string, data string",
    )
    golden3 = {
        "a": (
            '{"Output":[{"t":[{"l":1,"m":"x","r":true},'
            '{"l":2,"r":false},{"l":3}]}]}'
        ),
        "b": '{"Output":[{}]}',
    }
    for backend in ("columns", "pandas"):
        res = ok_rows(apply_mapping(df3, three_cfg, backend=backend, clock=CLOCK))
        assert {r["id"]: r["ok"] for r in res.collect()} == golden3, backend


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_iterate_if_var_combined_golden(spark, backend):
    """The round-3 features compose: vars feeding an if/else whose branches
    build fields over an iterated projector call — still projective."""
    cfg = """
out Output: P(root);
def P(input) {
  var arr: input.xs;
  if $Eq(input.mode, "up") {
    vals: U(arr[]);
  } else {
    n: input.mode;
  }
}
def U(e) { v: $ToUpper(e.s); }
"""
    df = spark.createDataFrame(
        [("a", '{"mode":"up","xs":[{"s":"p"},{"s":"q"}]}'),
         ("b", '{"mode":"dn","xs":[{"s":"p"}]}')],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == '{"Output":[{"vals":[{"v":"P"},{"v":"Q"}]}]}'
    assert oks["b"] == '{"Output":[{"n":"dn"}]}'


def test_recursive_projector_falls_back_not_hangs():
    """A self-recursive projector can't unroll into a static column tree:
    supports_columns() must return False (via the recursion guard), and
    compile-time validation must terminate."""
    cfg = "out O: P(root);\ndef P(i) { x: i.a; again: P(i); }"
    m = compile_mapping(cfg)  # _check terminates via the call-stack guard
    assert m.supports_columns() is False


LIB_CONFIG = """
out Output: P(root);
def P(i) {
  s: $ToString(i.n);
  pi: $ParseInt(i.ns);
  pf: $ParseFloat(i.fs);
  bad: $ParseInt(i.name);
  parts: $StrSplit(i.csv, ",");
  joined: $StrJoin("-", i.arr);
  m1: $MatchesRegex(i.name, "[a-z]+");
  m2: $MatchesRegex(i.name, "[0-9]+");
  nil1: $IsNil(i.empty);
  nil2: $IsNil(i.missing);
  nil3: $IsNil(i.name);
  len: $ListLen(i.arr);
  lenm: $ListLen(i.name);
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_library_builtins_golden(spark, backend):
    """Round-3 builtin growth ($ToString/$ParseInt/$ParseFloat/$StrSplit/
    $StrJoin/$MatchesRegex/$IsNil/$ListLen): byte-identical on both
    backends, incl. failed parses omitting the field, split keeping empty
    tokens, join dropping missing elements, full-match regex semantics,
    and nil covering missing/''/[]/{}."""
    df = spark.createDataFrame(
        [
            ("a", '{"n":42,"ns":" 17 ","fs":"2.5","name":"bob",'
                  '"csv":"a,b,,c","arr":[1,"x",null],"empty":""}'),
            ("b", '{"n":true,"ns":"4.5","fs":"x","name":"b0b","csv":"","arr":[]}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, LIB_CONFIG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"s":"42","pi":17,"pf":2.5,"parts":["a","b","","c"],'
        '"joined":"1-x","m1":true,"m2":false,"nil1":true,"nil2":true,'
        '"nil3":false,"len":3}]}'
    )
    assert oks["b"] == (
        '{"Output":[{"s":"true","parts":[""],"joined":"","m1":false,'
        '"m2":false,"nil1":true,"nil2":true,"nil3":false,"len":0}]}'
    )
    # the config is projective: the whole library stays in codegen
    assert compile_mapping(LIB_CONFIG).supports_columns() is True


def test_library_builtins_nonliteral_params_fall_back(spark):
    """Delimiters/patterns must be literals in the column backend (they
    parameterize the expression); data-derived ones fall back to pandas."""
    cfg = "out O: P(root);\ndef P(i) { parts: $StrSplit(i.s, i.d); }"
    m = compile_mapping(cfg)
    assert m.supports_columns() is False
    df = spark.createDataFrame([("x", '{"s":"a|b","d":"|"}')], "id string, data string")
    assert ok_rows(apply_mapping(df, cfg)).collect()[0]["ok"] == (
        '{"O":[{"parts":["a","b"]}]}'
    )


LIB2_CONFIG = """
out Output: P(root);
def P(i) {
  t: $Trim(i.pad);
  sub: $SubStr(i.name, 1, 3);
  over: $SubStr(i.name, 0, 99);
  rt: $ReformatTime(i.when, "yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy");
  iso: $ReformatTime(i.day, "yyyy-MM-dd", "yyyy-MM-dd'T'HH:mm:ss");
  bad: $ReformatTime(i.name, "yyyy-MM-dd", "MM");
  cat: $ListCat(i.xs, i.ys);
  catm: $ListCat(i.xs, i.name);
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_second_wave_builtins_golden(spark, backend):
    """$Trim/$SubStr/$ReformatTime/$ListCat: byte-identical on both
    backends, incl. space-only trim, slice clamping past the string end,
    quoted 'T' literals in time patterns, unparseable input omitting the
    field, non-canonical (unpadded) date forms rejected by BOTH backends
    (the strptime round-trip mirrors the strict Java parser), and ListCat
    null-propagating when any argument is not an array."""
    df = spark.createDataFrame(
        [
            ("a", '{"pad":"  hi!  ","name":"robert",'
                  '"when":"2024-03-05 14:30:09","day":"2024-12-31",'
                  '"xs":[1,"x"],"ys":[true,null]}'),
            ("b", '{"name":"ab","day":"2024-2-05"}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, LIB2_CONFIG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"t":"hi!","sub":"ob","over":"robert",'
        '"rt":"05/03/2024","iso":"2024-12-31T00:00:00",'
        '"cat":[1,"x",true,null]}]}'
    )
    # day "2024-2-05" is NOT canonical under MM: the strict parser (and the
    # pandas round-trip check) rejects it — only the substring fields emit
    assert oks["b"] == '{"Output":[{"sub":"b","over":"ab"}]}'
    # the whole second wave stays in codegen
    assert compile_mapping(LIB2_CONFIG).supports_columns() is True


def test_listcat_literal_arrays_fall_back(spark):
    """$ListCat over a literal/builtin-result array is outside the column
    backend's subset; auto falls back to pandas and still concatenates."""
    cfg = 'out O: P(root);\ndef P(i) { c: $ListCat($StrSplit(i.s, ","), i.xs); }'
    m = compile_mapping(cfg)
    assert m.supports_columns() is False
    df = spark.createDataFrame(
        [("x", '{"s":"a,b","xs":[1]}')], "id string, data string"
    )
    assert ok_rows(apply_mapping(df, cfg)).collect()[0]["ok"] == (
        '{"O":[{"c":["a","b",1]}]}'
    )


CLOCK_CFG = """
out Output: P(root);
def P(i) {
  v: i.x;
  stamp: $CurrentTime("yyyy-MM-dd HH:mm:ss");
  sub: Sub(i);
}
def Sub(j) { d: $CurrentTime("dd.MM.yyyy"); }
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_current_time_uses_injected_clock(spark, backend):
    """$CurrentTime renders the engine's injected clock (deterministic —
    the reference's processing-time builtin with testable time), and the
    clock propagates into nested projector calls; byte-identical on both
    backends."""
    df = spark.createDataFrame([("a", '{"x":1}')], "id string, data string")
    res = ok_rows(
        apply_mapping(df, CLOCK_CFG, backend=backend, clock="2024-06-30T12:34:56.789Z")
    )
    assert res.collect()[0]["ok"] == (
        '{"Output":[{"v":1,"stamp":"2024-06-30 12:34:56",'
        '"sub":{"d":"30.06.2024"}}]}'
    )
    assert compile_mapping(CLOCK_CFG).supports_columns() is True


def test_current_time_bad_pattern_fails_fast():
    with pytest.raises(MappingConfigError):
        compile_mapping('out O: P(root);\ndef P(i) { x: $CurrentTime("qq"); }')


def test_reserved_dunder_names_rejected():
    """Names starting with __ are reserved for engine-internal bindings
    (the injected clock travels in the evaluation environment)."""
    with pytest.raises(MappingConfigError):
        compile_mapping("out O: P(root);\ndef P(__x) { a: __x.b; }")
    with pytest.raises(MappingConfigError):
        compile_mapping(
            "out O: P(root);\ndef P(i) { var __clock__: i.a; a: __clock__; }"
        )


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_current_time_without_clock_is_processing_time(spark, backend):
    """Without an injected clock, $CurrentTime renders each backend's own
    processing-time now (query-constant in the column backend, batch
    timestamp in pandas) — shape-checked only, since real processing time
    is inherently non-reproducible."""
    import re as _re

    cfg = 'out O: P(root);\ndef P(i) { t: $CurrentTime("yyyy-MM-dd HH:mm:ss"); }'
    df = spark.createDataFrame([("a", "{}")], "id string, data string")
    ok = ok_rows(apply_mapping(df, cfg, backend=backend)).collect()[0]["ok"]
    m = _re.fullmatch(r'\{"O":\[\{"t":"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})"\}\]\}', ok)
    assert m, ok
    assert m.group(1).startswith("20")  # a current-era timestamp, not 1970


NUM_CFG = """
out Output: P(root);
def P(i) {
  sum: $Sum(i.a, i.b, 2);
  sub: $Sub(i.a, i.b);
  mul: $Mul(i.a, i.b);
  div: $Div(i.a, i.b);
  div0: $Div(i.a, 0);
  coerce: $Sum(i.s, i.flag);
  gt: $Gt(i.a, i.b);
  lte: $Lte(i.a, i.b);
  gmiss: $Gt(i.nope, i.a);
  pf: $ParseFloat(i.fs);
  pass: i.f;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_numeric_builtins_golden(spark, backend):
    """Arithmetic/ordering over the portable numeric envelope: operands
    coerce like VARIANT's double cast (numeric strings and booleans
    included), integral results render as integers, zero division and
    out-of-envelope magnitudes are nil, a nil comparison side is false —
    byte-identical on both backends. Also pins the $ParseFloat and float
    PASSTHROUGH parity fix: "3.0" renders as 3 on BOTH backends (it was
    "3" vs "3.0" before the json-load normalization)."""
    df = spark.createDataFrame(
        [
            ("a", '{"a":7,"b":2,"s":"1e2","flag":true,"fs":"3.0","f":3.0}'),
            ("b", '{"a":2.5,"b":4,"s":" 7 ","flag":false,"fs":"2.5","f":4.5}'),
            ("c", '{"a":1,"b":"x","s":"abc","fs":"nope","f":1e16}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, NUM_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"sum":11,"sub":5,"mul":14,"div":3.5,'
        '"coerce":101,"gt":true,"lte":false,"gmiss":false,"pf":3,"pass":3}]}'
    )
    assert oks["b"] == (
        '{"Output":[{"sum":8.5,"sub":-1.5,"mul":10,"div":0.625,'
        '"coerce":7,"gt":false,"lte":true,"gmiss":false,"pf":2.5,"pass":4.5}]}'
    )
    # b="x" is not numeric -> arithmetic nil, comparisons false; huge
    # passthrough float is outside the envelope in BOTH backends? No —
    # passthrough is data fidelity, not arithmetic: 1e16 renders per-backend
    # source form, so we only assert the arithmetic fields here.
    for key in ('"sum"', '"sub"', '"mul"', '"div"'):
        assert key not in oks["c"]
    assert '"gt":false' in oks["c"] and '"gmiss":false' in oks["c"]
    assert '"pf"' not in oks["c"]
    assert compile_mapping(NUM_CFG).supports_columns() is True


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_numeric_envelope_bounds(spark, backend):
    """Envelope edges: integral beyond 2^53 is nil, non-integral outside
    [1e-3, 1e7) is nil, -0.0 renders as 0 — identically on both backends."""
    cfg = (
        "out O: P(root);\n"
        "def P(i) { big: $Mul(i.x, i.x); tiny: $Div(1, i.big_denom);"
        " negz: $Mul(i.neg, 0); half: $Div(i.x, 2); }"
    )
    df = spark.createDataFrame(
        [("a", '{"x":100000001,"big_denom":100000,"neg":-5}')],
        "id string, data string",
    )
    ok = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK)).collect()[0]["ok"]
    # x*x ~ 1e16 integral but > 2^53 -> nil; 1/1e5 = 1e-05 < 1e-3 -> nil;
    # -5*0 = -0.0 -> 0; x/2 non-integral 5e7 >= 1e7 -> nil
    assert ok == '{"O":[{"negz":0}]}'


def test_numeric_string_coercion_spark_cast_parity(spark):
    """String->double coercion edges where Spark's cast and Python float()
    disagree (probed on Spark 4.1; hypothesis found the first one live):
    Spark trims ASCII control chars <= 0x20 at BOTH ends and tolerates a
    trailing d/D/f/F suffix, but rejects unicode digits/whitespace that
    float() accepts. The pandas mirror (_num_coerce) must match the
    columns backend byte-for-byte on every case."""
    import json

    cfg = "out O: P(root);\ndef P(i) { v: $Sum(i.s, 0); }"
    cases = [
        "8\x19", "\x198", "8\x00", "\x1f8\x01",          # control-char trim
        "8d", "1.5F", "5.d", "d", "8.5e",                # suffix forms
        "١٢", "５", "5　", " 5",                # unicode digit/ws
        "1_0", "0x10", "8 9", "--5", "", " ",            # rejects
        "+.5e-2", ".5", "5.", "1E3", " 8 ",              # accepts
        "Infinity", "NaN", "inf",                         # non-finite -> nil
    ]
    df = spark.createDataFrame(
        [(str(i), json.dumps({"s": s})) for i, s in enumerate(cases)],
        "id string, data string",
    )
    got = {}
    for backend in ("columns", "pandas"):
        res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
        got[backend] = {r["id"]: r["ok"] for r in res.collect()}
    assert got["columns"] == got["pandas"]
    # spot-pin the trim + suffix semantics themselves, not just agreement
    assert got["columns"]["0"] == '{"O":[{"v":8}]}'       # "8\x19" -> 8
    assert got["columns"]["4"] == '{"O":[{"v":8}]}'       # "8d" -> 8
    assert '"v"' not in got["columns"]["9"]                # "١٢" -> nil


WILD_CFG = """
out Output: P(root);
def P(i) {
  names: i.items[*].name;
  all: i.items[*];
  deep: i.m[*].xs[*].v;
  n: $ListLen(i.items[*].name);
  miss: i.nope[*].name;
  scalar: i.items[0].name;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_wildcard_paths_golden(spark, backend):
    """`a[*].b` wildcard navigation: per-element extraction with missing
    elements skipped and JSON-null values kept, identity `a[*]`, nested
    wildcards without flattening, missing/non-array sources nil — all
    byte-identical on both backends and still projective (codegen)."""
    df = spark.createDataFrame(
        [
            ("a", '{"items":[{"name":"a"},{"x":1},{"name":null},{"name":"b"}],'
                  '"m":[{"xs":[{"v":1},{"v":2}]},{"xs":[{"w":0}]},{"nope":1}]}'),
            ("b", '{"items":"not-an-array"}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, WILD_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"Output":[{"names":["a",null,"b"],'
        '"all":[{"name":"a"},{"x":1},{"name":null},{"name":"b"}],'
        '"deep":[[1,2],[]],'
        '"n":3,"scalar":"a"}]}'
    )
    assert oks["b"] == '{"Output":[{}]}'
    assert compile_mapping(WILD_CFG).supports_columns() is True


def test_wildcard_into_projector_results_falls_back(spark):
    """Wildcarding INTO a projector-built array needs dynamic per-element
    structure — outside the projective subset; auto falls back to pandas
    and still evaluates."""
    cfg = (
        "out O: Outer(Inner(root));\n"
        "def Inner(i) { xs[]: i.a; xs[]: i.b; }\n"
        "def Outer(x) { keep: x.xs[*]; }"
    )
    m = compile_mapping(cfg)
    df = spark.createDataFrame([("r", '{"a":1,"b":2}')], "id string, data string")
    out = ok_rows(apply_mapping(df, cfg)).collect()[0]["ok"]
    assert out == '{"O":[{"keep":[1,2]}]}'


LOGIC_CFG = """
out O: P(root);
def P(i) {
  both: $And(i.a, i.b);
  anyof: $Or(i.a, i.b, i.miss);
  ne: $NEq(i.x, i.y);
  ne_miss: $NEq(i.x, i.miss);
  strict: $And(i.truthy, i.a);
  tri: $Or($Eq(i.x, 1), $And(i.b, $Not(i.a)), $Gt(i.x, 99));
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_logic_builtins_golden(spark, backend):
    """$And/$Or strict-boolean n-ary folds ("true" strings and missing
    operands are NOT true) and $NEq (= not $Eq; a missing side IS not
    equal) — byte-identical on both backends."""
    df = spark.createDataFrame(
        [
            ("a", '{"a":true,"b":true,"x":1,"y":2,"truthy":"true"}'),
            ("b", '{"a":false,"b":true,"x":1,"y":1,"truthy":"true"}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, LOGIC_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"both":true,"anyof":true,"ne":true,"ne_miss":true,'
        '"strict":false,"tri":true}]}'
    )
    assert oks["b"] == (
        '{"O":[{"both":false,"anyof":true,"ne":false,"ne_miss":true,'
        '"strict":false,"tri":true}]}'
    )
    assert compile_mapping(LOGIC_CFG).supports_columns() is True


ARRLIB_CFG = """
out O: P(root);
def P(i) {
  flat: $Flatten(i.nested);
  uniq: $Unique(i.dupes);
  uniq_objs: $Unique(i.objs);
  flat_scalar: $Flatten(i.x);
  uniq_scalar: $Unique(i.x);
  chain: $Unique($Flatten(i.nested));
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_array_library_golden(spark, backend):
    """$Flatten splices one level (scalars and JSON nulls pass through in
    place); $Unique keeps first occurrences by canonical-JSON equality
    (object key order is canonical, so {"a":1,"b":2} == {"b":2,"a":1});
    non-array inputs are nil — byte-identical on both backends."""
    df = spark.createDataFrame(
        [
            (
                "a",
                '{"nested":[[1,2],[2,3],5,null,"x",[1,2]],'
                '"dupes":[1,"1",1,true,null,true,"x",null],'
                '"objs":[{"a":1,"b":2},{"b":2,"a":1},{"a":1}],'
                '"x":7}',
            ),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, ARRLIB_CFG, backend=backend, clock=CLOCK))
    ok = res.collect()[0]["ok"]
    assert ok == (
        '{"O":[{"flat":[1,2,2,3,5,null,"x",1,2],'
        '"uniq":[1,"1",true,null,"x"],'
        '"uniq_objs":[{"a":1,"b":2},{"a":1}],'
        '"chain":[1,2,3,5,null,"x"]}]}'
    )
    assert compile_mapping(ARRLIB_CFG).supports_columns() is True


TYPELIB_CFG = """
out O: P(root);
def P(i) {
  types: [$Type(i.n), $Type(i.s), $Type(i.b), $Type(i.arr), $Type(i.obj), $Type(i.z), $Type(i.miss)];
  built: $ListOf(i.n, i.miss, "lit", $Sum(i.n, 1));
  top_new: $SortAndTakeTop(i.logs, "ts", "true");
  top_old: $SortAndTakeTop(i.logs, "ts", "false");
  first_by: $UnionBy(i.logs, "who");
  pair_by: $UnionBy(i.logs, "who", "ts");
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_type_list_sort_union_golden(spark, backend):
    """$Type names JSON types (nil for missing); $ListOf = array-literal
    semantics (missing holds position as null); $SortAndTakeTop returns the
    single top element under a total order (key rendering, whole-element
    tie-break); $UnionBy dedups by one or more key fields keeping first
    occurrences — byte-identical on both backends."""
    df = spark.createDataFrame(
        [
            (
                "a",
                '{"n":2,"s":"x","b":true,"arr":[1],"obj":{"k":1},"z":null,'
                '"logs":['
                '{"who":"ann","ts":"2024-02-01"},'
                '{"who":"bob","ts":"2024-01-01"},'
                '{"who":"ann","ts":"2024-03-01"},'
                '{"who":"bob","ts":"2024-01-01","x":1}]}',
            ),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, TYPELIB_CFG, backend=backend, clock=CLOCK))
    ok = res.collect()[0]["ok"]
    assert ok == (
        '{"O":[{"types":["number","string","bool","array","container","null",null],'
        '"built":[2,null,"lit",3],'
        '"top_new":{"ts":"2024-03-01","who":"ann"},'
        '"top_old":{"ts":"2024-01-01","who":"bob","x":1},'
        '"first_by":[{"ts":"2024-02-01","who":"ann"},{"ts":"2024-01-01","who":"bob"}],'
        '"pair_by":[{"ts":"2024-02-01","who":"ann"},{"ts":"2024-01-01","who":"bob"},{"ts":"2024-03-01","who":"ann"}]}]}'
    )
    assert compile_mapping(TYPELIB_CFG).supports_columns() is True


OVERWRITE_CFG = """
out O: P(root);
def P(i) {
  status: "provisional";
  status!: $ToUpper(i.s);
  meta.a: 1;
  meta.b: 2;
  meta!: i.obj;
  items[]: 1;
  items[]: 2;
  items!: i.arr;
  if $Eq(i.s, "x") {
    status!: "expired";
  }
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_overwrite_targets_golden(spark, backend):
    """`field!:` replaces an earlier write at the same path — leaf, nested
    subtree, or append array — keeping the first write's declaration
    position; inside an if-block the overwrite applies only when the
    branch is taken. Duplicate writes WITHOUT `!` stay compile errors."""
    df = spark.createDataFrame(
        [
            ("a", '{"s":"ok","obj":{"z":9},"arr":[7]}'),
            ("b", '{"s":"x","obj":{"z":1},"arr":[]}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, OVERWRITE_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == '{"O":[{"status":"OK","meta":{"z":9},"items":[7]}]}'
    # branch taken: the conditional overwrite wins; arr empty -> []
    assert oks["b"] == '{"O":[{"status":"expired","meta":{"z":1},"items":[]}]}'


def test_duplicate_target_without_bang_still_fails():
    with pytest.raises(MappingConfigError, match="duplicate target"):
        compile_mapping("out O: P(root);\ndef P(i) { a: 1; a: 2; }")
    with pytest.raises(MappingConfigError, match="cannot combine"):
        compile_mapping("out O: P(root);\ndef P(i) { a[]!: 1; }")


# ------------------------------------------------------------ infix operators
INFIX_CFG = """
out O: P(root);
def P(i) {
  hot: i.t = "error" and i.k > 50;
  cool: i.k <= 10 or i.t ~= "error";
  score: (i.k + 1) * 2 - i.k / 4;
  has_tool: i.tool?;
  no_tool: not i.tool?;
  neg: -3;
  negk: -i.k;
  deep: not (i.k < 5 and i.t = "view");
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_infix_operators_golden(spark, backend):
    """Whistle infix surface: comparisons/logic/arithmetic/existence all
    desugar at parse time to the builtin library, so both backends produce
    byte-identical output and the column backend stays codegen."""
    df = spark.createDataFrame(
        [
            ("a", '{"t":"error","k":80,"tool":"search"}'),
            ("b", '{"t":"view","k":4}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, INFIX_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"hot":true,"cool":false,"score":142,"has_tool":true,'
        '"no_tool":false,"neg":-3,"negk":-80,"deep":true}]}'
    )
    assert oks["b"] == (
        '{"O":[{"hot":false,"cool":true,"score":9,"has_tool":false,'
        '"no_tool":true,"neg":-3,"negk":-4,"deep":false}]}'
    )
    assert compile_mapping(INFIX_CFG).supports_columns() is True


def test_infix_desugar_equivalence():
    """Each infix operator parses to exactly the Builtin tree its explicit
    form parses to — the desugar IS the spec, so backends need no changes."""
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_lang import (
        parse_mapping_config,
    )

    pairs = [
        ('a.x = a.y', '$Eq(a.x, a.y)'),
        ('a.x ~= a.y', '$NEq(a.x, a.y)'),
        ('a.x > 1 and a.y < 2', '$And($Gt(a.x, 1), $Lt(a.y, 2))'),
        ('a.x >= 1 or a.y <= 2 or a.z?',
         '$Or($Gte(a.x, 1), $Lte(a.y, 2), $Not($IsNil(a.z)))'),
        ('a.x + 1 - a.y', '$Sub($Sum(a.x, 1), a.y)'),
        ('a.x * 2 / a.y', '$Div($Mul(a.x, 2), a.y)'),
        ('a.x + a.y * 2', '$Sum(a.x, $Mul(a.y, 2))'),
        ('not a.x', '$Not(a.x)'),
        ('-a.x', '$Sub(0, a.x)'),
    ]
    for infix, explicit in pairs:
        got = parse_mapping_config(f"out O: P(root);\ndef P(a) {{ f: {infix}; }}")
        want = parse_mapping_config(f"out O: P(root);\ndef P(a) {{ f: {explicit}; }}")
        assert got.projectors["P"].fields == want.projectors["P"].fields, infix


def test_infix_compile_errors():
    with pytest.raises(MappingConfigError, match="do not chain"):
        compile_mapping("out O: P(root);\ndef P(a) { f: a.x = a.y = a.z; }")
    with pytest.raises(MappingConfigError):
        compile_mapping("out O: P(root);\ndef P(a) { f: a.x + ; }")
    with pytest.raises(MappingConfigError):
        compile_mapping("out O: P(root);\ndef P(a) { f: (a.x; }")


# -------------------------------------------------------------- where filters
WHERE_CFG = """
out O: P(root);
def P(i) {
  var hits: i.items[where $.k > 2 and $.t = "x"];
  hits: hits;
  names: hits[*].name;
  chained: i.items[where $.k > 1][where $.k < 9];
  nilbase: i.num[where $.k = 1];
  outer: i.items[where $.k = i.want];
  empty: i.items[where $.k > 100];
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_where_filters_golden(spark, backend):
    """`path[where pred]` array filters: `$` binds the element, outer
    bindings stay visible, filters chain, a missing/non-array base is nil,
    and a var-bound filter result supports wildcard navigation. The column
    backend compiles all of it to F.filter/F.transform — stays codegen."""
    df = spark.createDataFrame(
        [
            (
                "a",
                '{"items":[{"k":1,"t":"x","name":"a"},{"k":3,"t":"x","name":"b"},'
                '{"k":5,"t":"y","name":"c"},{"k":9,"t":"x"}],"num":7,"want":5}',
            ),
            ("b", '{"items":[],"num":1,"want":1}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, WHERE_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"hits":[{"k":3,"name":"b","t":"x"},{"k":9,"t":"x"}],'
        '"names":["b"],'
        '"chained":[{"k":3,"name":"b","t":"x"},{"k":5,"name":"c","t":"y"}],'
        '"outer":[{"k":5,"name":"c","t":"y"}],'
        '"empty":[]}]}'
    )
    assert oks["b"] == '{"O":[{"hits":[],"names":[],"chained":[],"outer":[],"empty":[]}]}'
    assert compile_mapping(WHERE_CFG).supports_columns() is True


def test_where_filter_validation():
    # `$` is only bound inside a [where] predicate
    with pytest.raises(MappingConfigError, match="unbound variable '\\$'"):
        compile_mapping("out O: P(root);\ndef P(i) { x: $.k; }")
    # a filter ends the path
    with pytest.raises(MappingConfigError, match="ends the path"):
        compile_mapping("out O: P(root);\ndef P(i) { x: i.a[where $.k = 1].b; }")
    with pytest.raises(MappingConfigError, match="ends the path"):
        compile_mapping("out O: P(root);\ndef P(i) { x: i.a[where $.k = 1][0]; }")


# ----------------------------------------------------------------- dest reads
DEST_CFG = """
out O: P(root);
def P(i) {
  first: i.a;
  second: dest.first + 1;
  meta.tag: $StrCat("t-", i.name);
  echo: dest.meta.tag;
  future: dest.later;
  later: 9;
  self_read: dest.self_read;
  cond: $If(dest.first = 5, "five", "other");
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_dest_reads_golden(spark, backend):
    """`dest.path` reads a field the same projector instance already wrote
    (declaration order). Reads of later or self fields are nil; nested
    writes are visible once complete. Both backends byte-identical; the
    column backend resolves dest statically — still codegen."""
    df = spark.createDataFrame(
        [("a", '{"a":5,"name":"x"}'), ("b", '{"name":"y"}')],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, DEST_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"first":5,"second":6,"meta":{"tag":"t-x"},"echo":"t-x",'
        '"later":9,"cond":"five"}]}'
    )
    # missing i.a: first omitted -> dest.first nil -> second omitted
    assert oks["b"] == (
        '{"O":[{"meta":{"tag":"t-y"},"echo":"t-y","later":9,"cond":"other"}]}'
    )
    assert compile_mapping(DEST_CFG).supports_columns() is True


def test_dest_validation():
    with pytest.raises(MappingConfigError, match="bare 'dest'"):
        compile_mapping("out O: P(root);\ndef P(i) { x: dest; }")
    with pytest.raises(MappingConfigError, match="reserved"):
        compile_mapping("out O: P(dest);\ndef P(dest) { x: dest.a; }")
    with pytest.raises(MappingConfigError, match="unbound"):
        compile_mapping("out O: dest.x;")
    with pytest.raises(MappingConfigError, match="unbound"):
        compile_mapping("out O: P(root);\ndef P(i) { var v: dest.a; x: v; }")


# ------------------------------------------------------------ required fields
REQUIRED_CFG = """
out O: P(root);
def P(i) {
  required name: i.n;
  required meta.tag: i.t;
  opt: i.o;
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_required_fields_golden(spark, backend):
    """`required path: expr;` dead-letters the record when the value is nil
    (reference: unmappable record -> ErrorEntry). A written JSON null is
    PRESENT. Both backends produce the same ok/err split and the same
    error message; the column backend checks with row-level NULL conditions
    inside codegen."""
    df = spark.createDataFrame(
        [
            ("a", '{"n":"x","t":1,"o":null}'),
            ("b", '{"t":1}'),            # name missing -> dead-letter
            ("c", '{"n":null}'),          # null name present; t missing
            ("d", "{"),                  # invalid JSON wins over required
        ],
        "id string, data string",
    )
    res = apply_mapping(df, REQUIRED_CFG, backend=backend, clock=CLOCK)
    oks = {r["id"]: r["ok"] for r in ok_rows(res).collect()}
    assert oks == {"a": '{"O":[{"name":"x","meta":{"tag":1},"opt":null}]}'}
    errs = {r["id"]: r["err"]["error_message"] for r in err_rows(res).collect()}
    assert errs == {
        "b": "required field 'name' is nil",
        "c": "required field 'meta.tag' is nil",
        "d": "invalid input JSON: {",
    }
    assert compile_mapping(REQUIRED_CFG).supports_columns() is True


REQUIRED_ITER_CFG = """
out O: P(root);
def P(i) {
  rows: E(i.items[]);
}
def E(e) {
  required k: e.k;
}
"""


def test_required_inside_iteration_falls_back(spark):
    """Required fields inside an iterated projector cannot surface row-level
    NULL conditions from a transform lambda — the config falls back to the
    pandas backend (auto) and still dead-letters the whole record when any
    element misses the field."""
    eng = compile_mapping(REQUIRED_ITER_CFG)
    assert eng.supports_columns() is False
    df = spark.createDataFrame(
        [("a", '{"items":[{"k":1},{"k":2}]}'), ("b", '{"items":[{"k":1},{}]}')],
        "id string, data string",
    )
    res = apply_mapping(df, REQUIRED_ITER_CFG, clock=CLOCK)  # backend=auto
    oks = {r["id"]: r["ok"] for r in ok_rows(res).collect()}
    assert oks == {"a": '{"O":[{"rows":[{"k":1},{"k":2}]}]}'}
    errs = {r["id"]: r["err"]["error_message"] for r in err_rows(res).collect()}
    assert errs == {"b": "required field 'k' is nil"}


# -------------------------------------------------------------------- $MergeJSON
MERGE_CFG = """
out O: $MergeJSON(A(root), B(root));
def A(i) {
  name: $ToUpper(i.n);
  meta.a: 1;
  meta.keep: "x";
  only_a: true;
}
def B(i) {
  name: $ToUpper(i.n2);
  meta.b: 2;
  only_b: "bee";
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_merge_json_golden(spark, backend):
    """$MergeJSON deep merge: nested objects merge recursively (left key
    order, right's new keys appended); a leaf conflict takes the right
    side unless nil (writing-nil-is-a-no-op). The column backend merges
    the projector trees statically — stays codegen."""
    df = spark.createDataFrame(
        [("a", '{"n":"low","n2":"high"}'), ("b", '{"n":"low"}')],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, MERGE_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    want = (
        '{"O":[{"name":"%s","meta":{"a":1,"keep":"x","b":2},'
        '"only_a":true,"only_b":"bee"}]}'
    )
    assert oks["a"] == want % "HIGH"
    assert oks["b"] == want % "LOW"  # B.name nil -> A's value survives
    assert compile_mapping(MERGE_CFG).supports_columns() is True


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_merge_json_nil_left_nil_right_conflict(spark, backend):
    """Fuzz-found regression: a key DECLARED by the left projector but
    written nil (so absent from its runtime dict) is still a conflict in
    the column backend, whose rule runs against the left's NULL column —
    a nil right side then resolves to NULL and vanishes. The pandas
    backend must not insert it as a fresh key."""
    cfg = """
out O: $MergeJSON(MA(root), MB(root));
def MA(i) {
  a: $ToString(i.kind);
  sub.x: $ToString(i.num);
}
def MB(i) {
  a: $ToString(i.num);
  sub.y: "const";
  b: true;
}
"""
    df = spark.createDataFrame(
        [
            # kind nil AND num "": both sides of the 'a' conflict nil -> drop
            ("a", '{"kind":null,"num":""}'),
            # kind nil, num set: left nil, right real -> right wins
            ("b", '{"kind":null,"num":7}'),
            # both nil entirely
            ("c", '{"kind":null,"num":null}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == '{"O":[{"sub":{"x":"","y":"const"},"b":true}]}'
    assert oks["b"] == '{"O":[{"a":"7","sub":{"x":"7","y":"const"},"b":true}]}'
    assert oks["c"] == '{"O":[{"sub":{"y":"const"},"b":true}]}'


def test_merge_json_runtime_object_leaf_conflict(spark):
    """A variant∧variant leaf conflict holding runtime OBJECTS deep-merges
    at runtime on BOTH backends (the column backend's _vmerge, unrolled
    map_zip_with). Merged data-derived objects render in canonical sorted
    key order — variant's binary form sorts, and the pandas backend
    re-sorts each merged level to match."""
    cfg = """
out O: $MergeJSON(A(root), B(root));
def A(i) { m: i.o1; }
def B(i) { m: i.o2; }
"""
    eng = compile_mapping(cfg)
    assert eng.supports_columns() is True
    df = spark.createDataFrame(
        [("a", '{"o1":{"x":1,"z":0},"o2":{"y":2,"z":9}}')],
        "id string, data string",
    )
    for backend in ("columns", "pandas"):
        res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
        assert (
            res.collect()[0]["ok"] == '{"O":[{"m":{"x":1,"y":2,"z":9}}]}'
        ), backend


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_merge_json_runtime_data_args(spark, backend):
    """$MergeJSON over DATA-derived arguments (no projector in sight): the
    full runtime rule set — recursive object merge, shape-change
    replacement, writing-nil no-op, null-vs-absent distinction — on both
    backends, byte-identical."""
    cfg = "out O: P(root);\ndef P(i) { m: $MergeJSON(i.a, i.b); }"
    assert compile_mapping(cfg).supports_columns() is True
    df = spark.createDataFrame(
        [
            ("deep", '{"a":{"p":1,"q":{"x":1,"z":[1]}},"b":{"q":{"x":"","y":2},"r":3}}'),
            ("shape", '{"a":{"p":{"x":1}},"b":{"p":[1,2]}}'),
            ("nil", '{"a":{"p":"keep"},"b":{"p":""}}'),
            ("nullkey", '{"a":{"p":1},"b":{"q":null}}'),
            ("amiss", '{"b":{"k":1}}'),
            ("bmiss", '{"a":{"k":1}}'),
            ("scalar", '{"a":5,"b":"s"}'),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["deep"] == (
        '{"O":[{"m":{"p":1,"q":{"x":1,"y":2,"z":[1]},"r":3}}]}'
    ), backend
    assert oks["shape"] == '{"O":[{"m":{"p":[1,2]}}]}', backend
    assert oks["nil"] == '{"O":[{"m":{"p":"keep"}}]}', backend
    assert oks["nullkey"] == '{"O":[{"m":{"p":1,"q":null}}]}', backend
    assert oks["amiss"] == '{"O":[{"m":{"k":1}}]}', backend
    assert oks["bmiss"] == '{"O":[{"m":{"k":1}}]}', backend
    assert oks["scalar"] == '{"O":[{"m":"s"}]}', backend


# ---------------------------------------------------- library close-out wave
CLOSEOUT_CFG = """
out O: P(root);
def P(i) {
  mod: $Mod(i.num, 7);
  modneg: $Mod(-13, 5);
  nn: $IsNotNil(i.kind);
  nn2: $IsNotNil(i.missing);
  vd: $Void(i.num);
  ih: $IntHash(i.kind);
  ds: $DebugString(i.kind);
  sf: $StrFmt("id=%s num=%s 100%%", i.kind, i.num);
  pt: $ParseTime("yyyy-MM-dd", i.day);
  put: $ParseUnixTime("s", i.epoch, "yyyy-MM-dd HH:mm:ss", "UTC");
  putms: $ParseUnixTime("ms", i.epochms, "HH:mm:ss", "UTC");
  st: $SplitTime("yyyy-MM-dd'T'HH:mm:ss", i.ts);
  ta: $TimeAdd(i.day, "yyyy-MM-dd", 1, "months");
  ta2: $TimeAdd(i.day, "yyyy-MM-dd", -36, "hours");
}
"""


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_builtin_closeout_golden(backend, spark):
    """The remaining public-Whistle builtins: $Mod (dividend's sign, zero
    divisor nil), $IsNotNil, $Void (always nil), $IntHash (52-bit sha256
    prefix), $DebugString (canonical JSON text), $StrFmt (%s/%% subset,
    nil-propagating), and the time library ($ParseTime / $ParseUnixTime /
    $SplitTime / $TimeAdd with month-end clamping and the years-1000-9999
    rendering window)."""
    assert compile_mapping(CLOSEOUT_CFG).supports_columns() is True
    df = spark.createDataFrame(
        [
            (
                "a",
                '{"kind":"abc","num":32,"day":"2024-01-31",'
                '"epoch":1700000000,"epochms":1700000000123,'
                '"ts":"2024-02-29T12:34:56"}',
            ),
            # nil kind, "" num, 3-digit-year day, negative/fractional epochs
            (
                "b",
                '{"kind":null,"num":"","day":"0999-01-05",'
                '"epoch":-5,"epochms":1.5,"ts":"bad"}',
            ),
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, CLOSEOUT_CFG, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"mod":4,"modneg":-3,"nn":true,"nn2":false,'
        '"ih":1913442161720247,"ds":"\\"abc\\"","sf":"id=abc num=32 100%",'
        '"pt":"2024-01-31T00:00:00","put":"2023-11-14 22:13:20",'
        '"putms":"22:13:20","st":["2024","02","29","12","34","56"],'
        # Jan 31 + 1 month clamps at Feb 29 (leap); -36h crosses two days
        '"ta":"2024-02-29","ta2":"2024-01-29"}]}'
    )
    # b: every time/arith/format field nils (bad inputs, pre-1000 year,
    # negative epoch); $IntHash/$DebugString hash/render the JSON null
    assert oks["b"] == (
        '{"O":[{"modneg":-3,"nn":false,"nn2":false,'
        '"ih":2043119860907636,"ds":"null"}]}'
    )


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_unnest_arrays_both_backends(spark, backend):
    """$UnnestArrays emits one {k, v} pair per observed key (array values
    explode per element), in canonical sorted key order on BOTH backends:
    map_entries over the variant's map cast in the column backend, the
    canon-sorted dict's items in pandas."""
    cfg = "out O: P(root);\ndef P(i) { un: $UnnestArrays(i.obj); }"
    assert compile_mapping(cfg).supports_columns() is True
    df = spark.createDataFrame(
        [
            ("a", '{"obj":{"b":"x","a":[1,2]}}'),  # keys canon-sorted
            ("b", '{"obj":[1]}'),  # non-object -> nil
            ("c", '{"obj":{}}'),  # empty object -> empty pair list
            ("d", '{"obj":{"e":[],"n":null,"o":{"z":1}}}'),  # edge values
        ],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    oks = {r["id"]: r["ok"] for r in res.collect()}
    assert oks["a"] == (
        '{"O":[{"un":[{"k":"a","v":1},{"k":"a","v":2},{"k":"b","v":"x"}]}]}'
    ), backend
    assert oks["b"] == '{"O":[{}]}', backend
    assert oks["c"] == '{"O":[{"un":[]}]}', backend
    # empty array contributes nothing; null value is one pair with v null;
    # object value is one pair carrying the whole object
    assert oks["d"] == (
        '{"O":[{"un":[{"k":"n","v":null},{"k":"o","v":{"z":1}}]}]}'
    ), backend


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_timeadd_month_clamp_only_on_overflow(backend, spark):
    """SQL year-month interval rule: the day clamps to month end ONLY on
    overflow — a mid-month day never snaps to the end."""
    cfg = """
out O: P(root);
def P(i) {
  over: $TimeAdd(i.d1, "yyyy-MM-dd", 1, "months");
  mid: $TimeAdd(i.d2, "yyyy-MM-dd", 1, "months");
  yr: $TimeAdd(i.d1, "yyyy-MM-dd", -1, "years");
}
"""
    df = spark.createDataFrame(
        [("a", '{"d1":"2023-01-31","d2":"2024-02-29"}')],
        "id string, data string",
    )
    res = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    assert res.collect()[0]["ok"] == (
        # non-leap Feb clamps to 28; Feb 29 + 1 month keeps day 29;
        # 2023-01-31 - 1 year keeps Jan 31
        '{"O":[{"over":"2023-02-28","mid":"2024-03-29","yr":"2022-01-31"}]}'
    )


def test_cross_field_cse_hoists_repeated_time_parse(spark):
    """Three fields parsing the same timestamp string compile to ONE
    try_to_timestamp in the final column expression (cross-field CSE —
    variant projections run without codegen subexpression elimination, so
    textual duplicates would each evaluate per row)."""
    cfg = """
out O: P(root);
def P(input) {
  stamp: $ParseTime("yyyy-MM-dd'T'HH:mm:ss", input.ts_s);
  parts: $SplitTime("yyyy-MM-dd'T'HH:mm:ss", input.ts_s);
  due: $TimeAdd(input.ts_s, "yyyy-MM-dd'T'HH:mm:ss", 3, "months");
}
"""
    df = spark.createDataFrame(
        [("a", '{"ts_s":"2024-02-29T12:34:56"}')], "id string, data string"
    )
    plan = apply_mapping(df, cfg, backend="columns")._jdf.queryExecution().logical()
    n_parses = plan.toString().count("try_to_timestamp")
    assert n_parses == 1, f"expected the repeated parse hoisted, saw {n_parses}"
    # and the hoisted plan still evaluates correctly on both backends
    want = (
        '{"O":[{"stamp":"2024-02-29T12:34:56",'
        '"parts":["2024","02","29","12","34","56"],'
        '"due":"2024-05-29T12:34:56"}]}'
    )
    for backend in ("columns", "pandas"):
        got = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
        assert got.collect()[0]["ok"] == want


def test_apply_mapping_builds_its_column_plan_once(spark):
    """``auto`` picks the backend with the same build it then plans with;
    forcing pandas (per-element latency) builds no column plan at all."""
    from unittest import mock

    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        CompiledMapping,
    )
    from perfbench.workloads import CONFIG

    df = spark.createDataFrame(
        [("a", '{"bar":50,"role":"user","note":"n"}')], "id string, data string"
    )
    build = CompiledMapping._compile_targets
    for kwargs, want in (({}, 1), ({"measure_latency": True}, 0)):
        with mock.patch.object(
            CompiledMapping, "_compile_targets", autospec=True, side_effect=build
        ) as builds:
            res = apply_mapping(df, CONFIG, **kwargs)
        assert builds.call_count == want, kwargs
        assert ok_rows(res).count() == 1


def test_uuid_pandas_only_random_v4(spark):
    """$UUID: the library's only nondeterministic builtin — pandas-only
    (column backend declines, auto falls back), RFC-4122 v4 shaped, fresh
    per evaluation."""
    import re

    cfg = "out O: P(root);\ndef P(i) { a: $UUID(); b: $UUID(); }"
    assert compile_mapping(cfg).supports_columns() is False
    df = spark.createDataFrame(
        [("a", "{}"), ("b", "{}")], "id string, data string"
    )
    rows = ok_rows(apply_mapping(df, cfg, clock=CLOCK)).collect()
    import json as _json

    seen = set()
    for r in rows:
        out = _json.loads(r["ok"])["O"][0]
        for k in ("a", "b"):
            assert re.fullmatch(
                r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
                out[k],
            )
            seen.add(out[k])
    assert len(seen) == 4  # fresh per call per row


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_review_fixes_parseint_regex_strsplit(spark, backend):
    """Review-found divergences: $ParseInt must mirror try_cast(long)
    exactly (no underscores / unicode digits / >int64); $MatchesRegex must
    not match a trailing newline (Java's bare $ would); both enforced
    identically on each backend."""
    cfg = """
out O: P(root);
def P(i) {
  a: $ParseInt(i.u);
  b: $ParseInt(i.big);
  c: $ParseInt(i.ok);
  m: $MatchesRegex(i.s, "a");
}
"""
    df = spark.createDataFrame(
        [
            (
                "r",
                '{"u":"1_0","big":"18446744073709551616","ok":" 12 ",'
                '"s":"a\\n"}',
            )
        ],
        "id string, data string",
    )
    got = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    # u and big are nil on BOTH backends now; bare-$ would have made the
    # column backend say m=true
    assert got.collect()[0]["ok"] == '{"O":[{"c":12,"m":false}]}'


# Builtin calls whose literal arguments can never be valid: each must fail
# at config load on both backends (MappingFn.java fail-fast contract), never
# compile and then emit {} for every record. (call, what the error says)
BAD_LITERAL_CALLS = [
    pytest.param("$SubStr(i.s, 3, 1)", "integer >= start", id="substr-end-before-start"),
    pytest.param('$SubStr(i.s, "1", 3)', "integer >= 0", id="substr-string-start"),
    pytest.param("$SubStr(i.s, i.a, -1)", "integer >= start", id="substr-negative-end"),
    # unknown pattern letter run
    pytest.param('$ReformatTime(i.s, "qqq", "yyyy")', "time pattern", id="reformat-bad-token"),
    # an input pattern without a full date: the backends would disagree on
    # defaulted fields
    pytest.param('$ReformatTime(i.s, "HH:mm", "HH")', "must include yyyy", id="reformat-no-date"),
    pytest.param('$ReformatTime(i.s, "yyyy-MM-dd", true)', "time pattern", id="reformat-bool-out"),
    pytest.param('$ParseTime("qq", i.t)', "time pattern", id="parsetime-bad-token"),
    pytest.param("$ParseTime(null, i.t)", "time pattern", id="parsetime-null"),
    pytest.param('$SplitTime("HH:mm", i.t)', "must include yyyy", id="splittime-no-date"),
    pytest.param('$TimeAdd(i.t, "HH:mm", 1, "hours")', "must include yyyy", id="timeadd-no-date"),
    pytest.param('$TimeAdd(i.t, "yyyy-MM-dd", 1.5, "days")', "an integer", id="timeadd-float-n"),
    pytest.param('$TimeAdd(i.t, "yyyy-MM-dd", "1", "days")', "an integer", id="timeadd-string-n"),
    pytest.param('$TimeAdd(i.t, "yyyy-MM-dd", 1, "fortnight")', "one of", id="timeadd-unit"),
    pytest.param('$ParseUnixTime("us", i.e, "yyyy", "UTC")', "one of", id="unixtime-unit"),
    pytest.param('$ParseUnixTime("s", i.e, "yyyy-qq", "UTC")', "time pattern", id="unixtime-pattern"),
    pytest.param('$ParseUnixTime("s", i.e, "yyyy", "PST")', "one of", id="unixtime-zone"),
    pytest.param("$CurrentTime(5)", "time pattern", id="currenttime-int"),
    pytest.param('$StrFmt("%s-%s", i.a)', "2 %s slots for 1", id="strfmt-slot-count"),
    pytest.param('$StrFmt("%d", i.a)', "only the %s and %%", id="strfmt-directive"),
    pytest.param('$StrFmt("%s%", i.a)', "only the %s and %%", id="strfmt-dangling"),
    # an invalid regex would crash pandas mid-job
    pytest.param('$MatchesRegex(i.s, "(")', "invalid pattern", id="regex-invalid"),
    pytest.param("$MatchesRegex(i.s, 5)", "invalid pattern", id="regex-int"),
    # an empty delimiter raises in python and splits per character in Java
    pytest.param('$StrSplit(i.s, "")', "non-empty", id="split-empty"),
    pytest.param("$StrSplit(i.s, 5)", "non-empty", id="split-int"),
    pytest.param("$StrJoin(5, i.xs)", "a string", id="join-int"),
    pytest.param('$SortAndTakeTop(i.xs, "k", "yes")', "one of", id="top-flag"),
    pytest.param('$SortAndTakeTop(i.xs, 7, "true")', "a string", id="top-key"),
    pytest.param('$UnionBy(i.xs, "k", 5)', "a string", id="unionby-key"),
]


@pytest.mark.parametrize("call,why", BAD_LITERAL_CALLS)
def test_bad_builtin_literal_fails_fast(call, why):
    """Every rule of mapping_lang.LITERAL_ARGS rejects a bad literal at
    compile time, before any data flows, for both backends."""
    with pytest.raises(MappingConfigError, match=re.escape(why)):
        compile_mapping(f"out O: P(root);\ndef P(i) {{ x: {call}; }}")


@pytest.mark.parametrize("cfg", ["LIB2_CONFIG", "CLOSEOUT_CFG"])
def test_valid_builtin_literals_stay_in_columns(spark, cfg):
    """The literal rules accept every valid literal: configs using each
    ruled builtin still compile to the column backend."""
    assert compile_mapping(globals()[cfg]).supports_columns() is True


# One call per LITERAL_ARGS rule with a bad DATA-derived value in the ruled
# slot: (builtin, argument position, call)
BAD_DATA_CALLS = [
    ("$SubStr", 1, "$SubStr(i.s, i.neg, 3)"),
    ("$SubStr", 2, "$SubStr(i.s, 1, i.neg)"),
    ("$ReformatTime", 1, '$ReformatTime(i.day, i.hhmm, "yyyy")'),
    ("$ReformatTime", 2, '$ReformatTime(i.day, "yyyy-MM-dd", i.qq)'),
    ("$ParseTime", 0, "$ParseTime(i.qq, i.day)"),
    ("$SplitTime", 0, "$SplitTime(i.hhmm, i.day)"),
    ("$TimeAdd", 1, '$TimeAdd(i.day, i.hhmm, 1, "days")'),
    ("$TimeAdd", 2, '$TimeAdd(i.day, "yyyy-MM-dd", i.half, "days")'),
    ("$TimeAdd", 3, '$TimeAdd(i.day, "yyyy-MM-dd", 1, i.fortnight)'),
    ("$ParseUnixTime", 0, '$ParseUnixTime(i.us, i.epoch, "yyyy", "UTC")'),
    ("$ParseUnixTime", 2, '$ParseUnixTime("s", i.epoch, i.qq, "UTC")'),
    ("$ParseUnixTime", 3, '$ParseUnixTime("s", i.epoch, "yyyy", i.pst)'),
    ("$CurrentTime", 0, "$CurrentTime(i.qq)"),
    ("$StrFmt", 0, "$StrFmt(i.pctd, i.s)"),
    ("$StrFmt", 0, "$StrFmt(i.two, i.s)"),
    ("$MatchesRegex", 1, "$MatchesRegex(i.s, i.paren)"),
    ("$StrSplit", 1, "$StrSplit(i.s, i.empty)"),
    ("$StrJoin", 0, "$StrJoin(i.five, i.xs)"),
    ("$SortAndTakeTop", 1, '$SortAndTakeTop(i.objs, i.five, "true")'),
    ("$SortAndTakeTop", 2, '$SortAndTakeTop(i.objs, "k", i.yes)'),
    ("$UnionBy", 1, "$UnionBy(i.objs, i.five)"),
]


def test_bad_data_in_literal_slots_is_nil_on_pandas(spark):
    """A data-derived argument escapes the compile-time rules: the column
    backend declines it, and the pandas backend evaluates a bad value to
    nil ($MatchesRegex to false) — one record never kills the job (an
    invalid data-derived regex used to raise re.error out of the UDF)."""
    ruled = {
        (name, pos)
        for name, rules in LITERAL_ARGS.items()
        for pos, rule in enumerate(rules)
        if rule is not None
    }
    assert {(name, pos) for name, pos, _ in BAD_DATA_CALLS} == ruled
    fields = "".join(f"  f{k}: {call};\n" for k, (_, _, call) in enumerate(BAD_DATA_CALLS))
    cfg = f"out O: P(root);\ndef P(i) {{\n{fields}}}"
    assert compile_mapping(cfg).supports_columns() is False
    data = {
        "s": "ab", "neg": -1, "day": "2024-01-31", "hhmm": "HH:mm",
        "qq": "qq", "half": 1.5, "fortnight": "fortnight", "us": "us",
        "epoch": 1700000000, "pst": "PST", "pctd": "%d", "two": "%s-%s",
        "paren": "(", "empty": "", "five": 5, "xs": ["a", "b"],
        "objs": [{"k": 1}], "yes": "yes",
    }
    df = spark.createDataFrame([("r", json.dumps(data))], "id string, data string")
    res = apply_mapping(df, cfg, backend="pandas", clock=CLOCK)
    assert err_rows(res).count() == 0
    want = {
        f"f{k}": False
        for k, (name, _, _) in enumerate(BAD_DATA_CALLS)
        if name == "$MatchesRegex"
    }
    assert json.loads(ok_rows(res).collect()[0]["ok"]) == {"O": [want]}


def test_review_fix_mixed_out_target_falls_back(spark):
    """Two writes to one out target with different SQL shapes must decline
    the column backend at COMPILE time (pandas handles them), not explode
    at analysis inside apply_mapping."""
    cfg = """
out O: P(root);
out O: $StrCat("x", "y");
def P(i) { a: i.v; }
"""
    eng = compile_mapping(cfg)
    assert eng.supports_columns() is False
    df = spark.createDataFrame([("r", '{"v":1}')], "id string, data string")
    got = ok_rows(apply_mapping(df, cfg, clock=CLOCK)).collect()[0]["ok"]
    assert got == '{"O":[{"a":1},"xy"]}'


def test_review_fix_cse_key_distinguishes_xn_field_names(spark):
    """CSE keys must not conflate data fields named like lambda variables:
    x_1 and x_2 are DIFFERENT source paths and must emit different values."""
    cfg = """
out O: P(root);
def P(p) {
  a: $Sum(p.x_1, 1);
  b: $Sum(p.x_2, 1);
}
"""
    df = spark.createDataFrame(
        [("r", '{"x_1":10,"x_2":20}')], "id string, data string"
    )
    for backend in ("columns", "pandas"):
        got = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
        assert got.collect()[0]["ok"] == '{"O":[{"a":11,"b":21}]}'


@pytest.mark.parametrize("backend", ["columns", "pandas"])
def test_review_fix_variant_append_targets_navigable(spark, backend):
    """Append targets of data-derived values are variant arrays (the exact
    type-set check against the Column base class never matched on 4.x and
    mislabeled them 'str'); element reads must navigate correctly."""
    cfg = """
out O: P(root);
def P(i) {
  xs[]: i.a;
  xs[]: i.b;
  first: dest.xs[0];
}
"""
    df = spark.createDataFrame(
        [("r", '{"a":{"k":1},"b":2}')], "id string, data string"
    )
    got = ok_rows(apply_mapping(df, cfg, backend=backend, clock=CLOCK))
    assert got.collect()[0]["ok"] == '{"O":[{"xs":[{"k":1},2],"first":{"k":1}}]}'
