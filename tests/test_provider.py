"""Mapping-config loading tests: scheme rule, exact file text, import
resolution, fail-fast, and an e2e pipeline drive from a config file on disk
— the contract of MappingConfigProviderFactory.java /
GcsMappingConfigProvider.java / LocalMappingConfigProvider.java and
MappingFn.java:194-202 (fail fast)."""

import os

import pytest

from healthcare_data_harmonization_dataflow_spark.functions.mapping_lang import (
    MappingConfigError,
)
from healthcare_data_harmonization_dataflow_spark.model.errors import ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import (
    apply_mapping,
)
from healthcare_data_harmonization_dataflow_spark.provider.mapping import (
    load_mapping_config,
)
from healthcare_data_harmonization_dataflow_spark.streaming.sink import (
    _HadoopFs,
    _LocalFs,
    fs_for,
)

MAIN = 'import "lib/common.wstl";\nout Output: Common(root);\n'
LIB = "def Common(input) { foo: input.bar; }\n"


@pytest.fixture
def config_tree(tmp_path):
    (tmp_path / "lib").mkdir()
    (tmp_path / "main.wstl").write_text(MAIN)
    (tmp_path / "lib" / "common.wstl").write_text(LIB)
    return tmp_path


def test_fs_for_picks_by_scheme(spark):
    """The one scheme rule configs and sinks share: a plain path is a local
    file, any URI (``file:/x`` too) goes through the Hadoop FileSystem."""
    assert isinstance(fs_for("/x/y.wstl"), _LocalFs)
    assert isinstance(fs_for("file:/x/y.wstl", spark), _HadoopFs)
    assert isinstance(fs_for("file:///x/y.wstl", spark), _HadoopFs)


def test_both_filesystems_read_exact_text(spark, tmp_path):
    """A plain path and a ``file:`` URI return the same, exact text: CRLF
    and a bare CR inside a string literal survive, and so does the final
    newline."""
    text = 'a\r\nb "x\ry"\n'
    f = tmp_path / "cfg.wstl"
    f.write_bytes(text.encode("utf-8"))
    assert fs_for(str(f)).read_text(str(f)) == text
    uri = "file:" + str(f)
    assert fs_for(uri, spark).read_text(uri) == text


def test_missing_config_fails_fast():
    with pytest.raises(FileNotFoundError):
        load_mapping_config("/nonexistent/cfg.wstl")


def test_import_resolution(config_tree):
    text = load_mapping_config(
        str(config_tree / "main.wstl"), import_root=str(config_tree)
    )
    assert "def Common" in text and "import" not in text


def test_import_requires_root_and_rejects_escape(config_tree):
    with pytest.raises(MappingConfigError, match="import_root"):
        load_mapping_config(str(config_tree / "main.wstl"))
    (config_tree / "evil.wstl").write_text('import "../secret";\nout O: P(root);\n')
    with pytest.raises(MappingConfigError, match="escapes"):
        load_mapping_config(str(config_tree / "evil.wstl"), import_root=str(config_tree))
    (config_tree / "abs.wstl").write_text('import "/etc/passwd";\n')
    with pytest.raises(MappingConfigError, match="escapes"):
        load_mapping_config(str(config_tree / "abs.wstl"), import_root=str(config_tree))
    (config_tree / "cyc.wstl").write_text('import "cyc.wstl";\n')
    with pytest.raises(MappingConfigError, match="cyclic"):
        load_mapping_config(str(config_tree / "cyc.wstl"), import_root=str(config_tree))
    (config_tree / "gone.wstl").write_text('import "nope.wstl";\n')
    with pytest.raises(MappingConfigError, match="not found"):
        load_mapping_config(str(config_tree / "gone.wstl"), import_root=str(config_tree))


def test_dotted_file_name_inside_root_splices(config_tree):
    """``..common.wstl`` names a file INSIDE the root: only a leading ``..``
    path component escapes it."""
    (config_tree / "..common.wstl").write_text(LIB)
    (config_tree / "dots.wstl").write_text(
        'import "..common.wstl";\nout Output: Common(root);\n'
    )
    text = load_mapping_config(
        str(config_tree / "dots.wstl"), import_root=str(config_tree)
    )
    assert "def Common" in text and "import" not in text
    for rel in ("../x", "lib/../../x"):
        (config_tree / "up.wstl").write_text(f'import "{rel}";\n')
        with pytest.raises(MappingConfigError, match="escapes"):
            load_mapping_config(
                str(config_tree / "up.wstl"), import_root=str(config_tree)
            )


def test_hadoop_fs_provider_file_scheme(spark, config_tree):
    """The any-scheme provider read through the Hadoop FileSystem API —
    exercised with file:// here; the same code path serves hdfs/s3a/gs."""
    uri = "file://" + str(config_tree / "main.wstl")
    text = load_mapping_config(
        uri, import_root="file://" + str(config_tree), spark=spark
    )
    assert "def Common" in text and "import" not in text
    with pytest.raises(FileNotFoundError):
        load_mapping_config("file:///nonexistent/cfg.wstl", spark=spark)


def test_file_uri_without_authority(spark, config_tree):
    """``file:/abs/x`` — the form Spark prints for local paths — is a URI
    like ``file:///abs/x``: read through the Hadoop FileSystem, as the
    sink classifies it. An engine-config envelope at such a URI is read
    once, then its referenced configs."""
    from unittest import mock

    uri = "file:" + str(config_tree / "main.wstl")
    text = load_mapping_config(uri, import_root="file:" + str(config_tree), spark=spark)
    assert "def Common" in text and "import" not in text

    envelope = config_tree / "engine.textproto"
    envelope.write_text(
        "structure_mapping_config: { mapping_path_config: { mapping_config_path: "
        f'{{ local_path: "{config_tree / "main.wstl"}" }} }} }}\n'
    )
    read_text = _HadoopFs.read_text
    with mock.patch.object(
        _HadoopFs, "read_text", autospec=True, side_effect=read_text,
    ) as reads:
        got = load_mapping_config("file:" + str(envelope), spark=spark)
    assert "def Common" in got and "import" not in got
    assert reads.call_count == 1


def test_e2e_pipeline_from_config_file(spark, config_tree):
    """Drive the mapping operator end-to-end from a config FILE with an
    import-root tree, mirroring the reference's --mappingPath/--importRoot
    flags (Hl7v2ToFhirStreamingRunner options)."""
    cfg = load_mapping_config(
        str(config_tree / "main.wstl"), import_root=str(config_tree)
    )
    df = spark.createDataFrame([("a", '{"bar":"test"}')], "id string, data string")
    res = ok_rows(apply_mapping(df, cfg))
    assert res.collect()[0]["ok"] == '{"Output":[{"foo":"test"}]}'


def test_cache_keys_on_import_root(tmp_path):
    """A second call with a DIFFERENT import_root resolves against that
    root, not the first root's splice."""
    (tmp_path / "r1").mkdir()
    (tmp_path / "r2").mkdir()
    (tmp_path / "main.wstl").write_text('import "lib.wstl";\nout O: P(root);\n')
    (tmp_path / "r1" / "lib.wstl").write_text("def P(i) { a: i.x; }\n")
    (tmp_path / "r2" / "lib.wstl").write_text("def P(i) { b: i.y; }\n")
    main = str(tmp_path / "main.wstl")
    t1 = load_mapping_config(main, import_root=str(tmp_path / "r1"))
    t2 = load_mapping_config(main, import_root=str(tmp_path / "r2"))
    assert "a: i.x" in t1 and "b: i.y" in t2 and t1 != t2


def test_diamond_imports_allowed(config_tree):
    """Two library files importing a shared third is a legitimate layout
    (the reference mirrors the importRoot tree and lets Whistle resolve
    shared imports): the shared file splices ONCE, later imports of it are
    no-ops — not 'cyclic import' errors. Cycles are still rejected via the
    active-import-stack check."""
    (config_tree / "lib" / "shared.wstl").write_text(
        "def Shared(input) { s: input.s; }\n"
    )
    (config_tree / "lib" / "a.wstl").write_text(
        'import "lib/shared.wstl";\ndef A(input) { a: Shared(input); }\n'
    )
    (config_tree / "lib" / "b.wstl").write_text(
        'import "lib/shared.wstl";\ndef B(input) { b: Shared(input); }\n'
    )
    (config_tree / "dia.wstl").write_text(
        'import "lib/a.wstl";\nimport "lib/b.wstl";\nout O: A(root);\nout O: B(root);\n'
    )
    text = load_mapping_config(
        str(config_tree / "dia.wstl"), import_root=str(config_tree)
    )
    assert text.count("def Shared") == 1  # spliced exactly once
    assert "def A" in text and "def B" in text and "import" not in text
    # the resolved config parses and runs
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        compile_mapping,
    )
    assert compile_mapping(text).transform('{"s":1}') == (
        '{"O":[{"a":{"s":1}},{"b":{"s":1}}]}'
    )
    # a true cycle through the diamond layout still fails fast
    (config_tree / "lib" / "c1.wstl").write_text('import "lib/c2.wstl";\n')
    (config_tree / "lib" / "c2.wstl").write_text('import "lib/c1.wstl";\n')
    (config_tree / "cyc2.wstl").write_text('import "lib/c1.wstl";\nout O: P(root);\n')
    with pytest.raises(MappingConfigError, match="cyclic"):
        load_mapping_config(
            str(config_tree / "cyc2.wstl"), import_root=str(config_tree)
        )


def test_engine_config_envelope(tmp_path):
    """The EP2 runner's main.textproto shape (library_config +
    structure_mapping_config, runner/dicomtofhir/main.textproto): the
    envelope resolves $MAPPING_ENGINE_HOME, loads every user library plus
    the main config (with its own Whistle imports), and yields one
    self-contained compilable config. load_mapping_config auto-detects the
    envelope."""
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        compile_mapping,
    )
    from healthcare_data_harmonization_dataflow_spark.provider.engine_config import (
        parse_engine_config,
    )

    home = tmp_path / "engine"
    (home / "projector_library").mkdir(parents=True)
    (home / "configurations").mkdir()
    (home / "projector_library" / "lib.wstl").write_text(
        "def Lib(input) { v: $ToUpper(input.x); }\n"
    )
    (home / "configurations" / "extra.wstl").write_text(
        "def Extra(input) { e: input.y; }\n"
    )
    (home / "configurations" / "main.wstl").write_text(
        'import "extra.wstl";\nout Output: Lib(root);\nout Output: Extra(root);\n'
    )
    envelope = tmp_path / "main.textproto"
    envelope.write_text(
        """
# engine config (reference shape)
library_config: {
  user_libraries: {
    type: MAPPING_LANGUAGE
    path: { local_path: "$MAPPING_ENGINE_HOME/projector_library/lib.wstl" }
  }
}
structure_mapping_config: {
  mapping_path_config: {
    mapping_type: MAPPING_LANGUAGE
    mapping_config_path: {
      local_path: "$MAPPING_ENGINE_HOME/configurations/main.wstl"
    }
  }
}
"""
    )
    env = {"MAPPING_ENGINE_HOME": str(home)}
    parsed = parse_engine_config(envelope.read_text(), env)
    assert parsed.library_paths == [str(home / "projector_library" / "lib.wstl")]
    assert parsed.mapping_path == str(home / "configurations" / "main.wstl")

    combined = load_mapping_config(str(envelope), env=env)
    assert "def Lib" in combined and "def Extra" in combined
    assert "import" not in combined
    got = compile_mapping(combined).transform('{"x":"ab","y":3}')
    assert got == '{"Output":[{"v":"AB"},{"e":3}]}'

    # $VARS default to os.environ
    import os as _os

    _os.environ["MAPPING_ENGINE_HOME"] = str(home)
    try:
        auto = load_mapping_config(str(envelope))
    finally:
        del _os.environ["MAPPING_ENGINE_HOME"]
    assert auto == combined

    # fail-fast: unknown variable, missing mapping config
    with pytest.raises(MappingConfigError, match="undefined variable"):
        parse_engine_config(envelope.read_text(), env={})
    with pytest.raises(MappingConfigError, match="structure_mapping_config"):
        parse_engine_config("library_config: {}", env=env)
