"""Property-based tests (hypothesis) — the invariants that golden tests
can't sweep:

* the two mapping backends (Catalyst VARIANT vs Arrow/pandas closure) agree
  on ARBITRARY inputs, valid JSON or garbage (SURVEY §5: the engine's
  correctness story is backend-independent semantics);
* the streaming session logic (_split_sessions/_session_row/_chunks) is
  invariant under arrival permutation — the reordering guarantee the
  north-star demands ("stable turn ordering" for bit-exact bundles).
"""

from __future__ import annotations

import json
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping
from healthcare_data_harmonization_dataflow_spark.streaming.assembly import (
    _chunks,
    _session_row,
    _split_sessions,
)

CFG = "out Output: Proj(root);\ndef Proj(input) { foo: input.bar; }"

# JSON-ish payloads: valid objects, valid-but-unexpected shapes, and garbage
_scalar = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=20),
    st.booleans(),
    st.none(),
    # floats INSIDE the portable numeric envelope (mapping_compile._num_out):
    # plain-notation magnitudes in [1e-3, 1e7) or integral — the range where
    # VARIANT's rendering and Python's repr provably agree; exotic forms
    # (exponents, subnormals, >2^53 integrals) are documented as
    # backend-divergent and excluded by design
    st.integers(min_value=-(10**6), max_value=10**6).map(float),
    st.floats(min_value=1e-3, max_value=9e6, allow_nan=False),
    st.floats(min_value=-9e6, max_value=-1e-3, allow_nan=False),
)
_payload = st.one_of(
    st.builds(lambda v: json.dumps({"bar": v}), _scalar),
    st.builds(lambda d: json.dumps(d), st.dictionaries(st.text(max_size=8), _scalar, max_size=4)),
    st.builds(lambda v: json.dumps([v]), _scalar),
    st.text(max_size=30),  # mostly malformed
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_payload, min_size=1, max_size=40))
def test_mapping_backends_agree_on_arbitrary_input(spark, payloads):
    df = spark.createDataFrame(
        [(str(i), p) for i, p in enumerate(payloads)], "id string, data string"
    )
    clock = "2024-01-01T00:00:00Z"

    def norm(rows):
        # stacktrace is backend-specific diagnostics (the Python closure can
        # attach a real traceback, a Catalyst expression cannot) — every
        # SEMANTIC field must agree exactly
        return {
            r["id"]: (
                r["ok"],
                None
                if r["err"] is None
                else tuple(
                    v for k, v in r["err"].asDict().items() if k != "stacktrace"
                ),
            )
            for r in rows
        }

    got_c = norm(apply_mapping(df, CFG, backend="columns", clock=clock).collect())
    got_p = norm(apply_mapping(df, CFG, backend="pandas", clock=clock).collect())
    assert got_c == got_p


_turn = st.tuples(
    st.integers(min_value=0, max_value=50),  # turn_idx
    st.sampled_from(["user", "assistant", "tool"]),
    st.text(max_size=12),
    st.integers(min_value=0, max_value=10**7),  # ts_us
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_turn, min_size=1, max_size=30), st.randoms())
def test_session_split_and_render_arrival_invariant(turns, rnd):
    gap_us = 1_000_000
    shuffled = list(turns)
    rnd.shuffle(shuffled)

    def session_set(ts):
        # the turns each emitted session carries, in the order bundle_json
        # renders them, plus its bounds
        rows = [
            _session_row(("c",), s, 1) for s in _split_sessions(list(ts), gap_us)
        ]
        return sorted(
            (
                sorted(r["turns"]),
                r["n_turns"],
                r["session_start"],
                r["session_end"],
            )
            for r in rows
        )

    assert session_set(turns) == session_set(shuffled)


@settings(max_examples=200, deadline=None)
@given(st.lists(_turn, min_size=1, max_size=40), st.integers(min_value=1, max_value=7))
def test_chunking_conserves_and_orders(turns, cap):
    chunks = _chunks(list(turns), cap)
    assert sum(len(c) for c in chunks) == len(turns)
    assert all(len(c) <= cap for c in chunks)
    if len(turns) > cap:
        flat = [t for c in chunks for t in c]
        assert flat == sorted(turns, key=lambda t: (t[0], t[1], t[2]))


@settings(max_examples=200, deadline=None)
@given(st.lists(_turn, min_size=1, max_size=30))
def test_split_sessions_partitions_by_gap(turns):
    gap_us = 500_000
    sessions = _split_sessions(list(turns), gap_us)
    flat = [t for s in sessions for t in s]
    # partition: nothing lost, nothing invented
    assert sorted(flat) == sorted(turns)
    for s in sessions:
        # within a session, consecutive (ts-sorted) turns are at most gap
        # apart (session_window's touching windows merge)
        for a, b in zip(s, s[1:]):
            assert b[3] - a[3] <= gap_us
    # across boundaries, the gap criterion held
    for s1, s2 in zip(sessions, sessions[1:]):
        assert s2[0][3] - s1[-1][3] > gap_us


# the full round-2 language surface in one config: nested targets, append
# targets, arrays, builtins, conditionals, chained projectors with static
# navigation — backend agreement must hold on arbitrary inputs
EXT_CFG = """
out Output: Outer(Inner(root));
def Inner(input) {
  meta.cat: $ToUpper(input.cat);
  meta.sig: $Hash(input.bar);
  items[]: input.bar;
  items[]: input.nope;
  pair: [input.bar, "x", input.cat];
  flag: $If($Eq(input.cat, "go"), "G", "NG");
  only: $If(input.active, input.bar);
}
def Outer(x) {
  picked: x.meta.cat;
  first: x.items[0];
  deep: x;
}
"""

_ext_payload = st.one_of(
    st.builds(
        lambda v, c, a: json.dumps({"bar": v, "cat": c, "active": a}),
        _scalar,
        # int64-bounded: the engine's numeric envelope is Spark VARIANT
        # (int64 / decimal(38) / double). Integers past 38 digits demote to
        # double in the column backend while Python keeps arbitrary
        # precision — outside the transcript data model (int32/int64
        # columns), so the fuzz stays inside the documented envelope
        st.one_of(
            st.text(max_size=8),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.none(),
        ),
        st.one_of(st.booleans(), st.text(max_size=4), st.none()),
    ),
    st.builds(lambda d: json.dumps(d), st.dictionaries(st.text(max_size=8), _scalar, max_size=4)),
    st.text(max_size=30),  # mostly malformed
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_ext_payload, min_size=1, max_size=30))
def test_extended_subset_backends_agree(spark, payloads):
    df = spark.createDataFrame(
        [(str(i), p) for i, p in enumerate(payloads)], "id string, data string"
    )
    clock = "2024-01-01T00:00:00Z"
    got_c = {
        r["id"]: (r["ok"], r["err"] is not None)
        for r in apply_mapping(df, EXT_CFG, backend="columns", clock=clock).collect()
    }
    got_p = {
        r["id"]: (r["ok"], r["err"] is not None)
        for r in apply_mapping(df, EXT_CFG, backend="pandas", clock=clock).collect()
    }
    assert got_c == got_p


# round-3 language features under structural fuzz: var bindings, if/else,
# iteration, and the builtin library, on arbitrary nested inputs — both
# backends must stay byte-identical (the column backend must also keep
# compiling, i.e. the config stays projective for every input shape)
RICH_CFG = """
out Output: P(root);
def P(input) {
  var kind: $ToString(input.kind);
  k: kind;
  if $Eq(input.kind, "a") {
    branch: "A";
    n: $ParseInt(input.num);
  } else {
    branch: $StrCat("B:", kind);
  }
  nil: $IsNil(input.items);
  len: $ListLen(input.items);
  mapped: It(input.items[]);
  tr: $Trim(kind);
  ss: $SubStr(kind, 0, 2);
  when: $ReformatTime(input.day, "yyyy-MM-dd", "dd.MM.yyyy");
  cat2: $ListCat(input.items, input.items);
  now: $CurrentTime("yyyy-MM-dd'T'HH:mm:ss");
  m3: $Mul(input.num, 3);
  dz: $Div(input.num, input.kind);
  big: $Gt(input.num, 10);
  wnames: input.items[*].s;
  wall: input.items[*];
  lg: $And($Gt(input.num, 0), $Lt(input.num, 100));
  anyv: $Or($Eq(input.kind, "a"), $NEq(input.num, 7));
  fl: $Flatten(input.items);
  un: $Unique(input.items);
  ty: $Type(input.items);
  tyn: $Type(input.num);
  lst: $ListOf(input.num, input.kind, "lit");
  topk: $SortAndTakeTop(input.items, "s", "true");
  ub: $UnionBy(input.items, "s");
  ow: "base";
  ow!: $If($Eq(input.kind, "a"), "overwritten");
  ifx: input.num > 0 and input.num < 100;
  ifx2: input.kind = "a" or input.num ~= 7;
  ifx3: (input.num + 1) * 2 - input.num / 2;
  ifx4: input.items? and not input.missing?;
  ifx5: -input.num;
  wfil: input.items[where $.s = "a"];
  wfil2: input.items[where $.s? and not ($.extra = 1)];
  wdst: dest.ifx;
  mj: $MergeJSON(MA(input), MB(input));
  md: $Mod(input.num, 7);
  md2: $Mod(input.num, input.kind);
  nnl: $IsNotNil(input.items);
  vdd: $Void(input.num);
  ihh: $IntHash(input.kind);
  dbg: $DebugString(input.items);
  sfm: $StrFmt("k=%s|n=%s %%", input.kind, input.num);
  ptm: $ParseTime("yyyy-MM-dd", input.day);
  ptu: $ParseUnixTime("s", input.epoch, "yyyy-MM-dd HH:mm:ss", "UTC");
  ptums: $ParseUnixTime("ms", input.epoch, "HH:mm:ss", "UTC");
  spt: $SplitTime("yyyy-MM-dd", input.day);
  tad: $TimeAdd(input.day, "yyyy-MM-dd", 7, "days");
  tam: $TimeAdd(input.day, "yyyy-MM-dd", 13, "months");
}
def MA(i) {
  a: $ToString(i.kind);
  sub.x: $ToString(i.num);
}
def MB(i) {
  a: $ToString(i.num);
  sub.y: "const";
  b: true;
}
def It(e) {
  u: $ToUpper(e.s);
  ok: $MatchesRegex($ToString(e.s), "[a-z]*");
}
"""

_rich_item = st.fixed_dictionaries(
    {}, optional={"s": _scalar, "extra": _scalar}
)
_rich_payload = st.builds(
    lambda kind, num, items, day, epoch: json.dumps(
        {"kind": kind, "num": num, "items": items, "day": day, "epoch": epoch}
    ),
    st.one_of(st.sampled_from(["a", "b"]), _scalar),
    st.one_of(st.text(max_size=6), st.integers(-100, 100), st.none()),
    st.one_of(
        st.lists(_rich_item, max_size=4), _scalar
    ),  # sometimes not an array
    # valid canonical dates (years with 4-digit rendering), sloppy
    # near-dates, and garbage — $ReformatTime must treat all three
    # identically on both backends
    st.one_of(
        st.dates(
            min_value=__import__("datetime").date(1000, 1, 1),
            max_value=__import__("datetime").date(9999, 12, 31),
        ).map(lambda d: d.isoformat()),
        st.sampled_from(["2024-1-05", "2024-01-5", ""]),
        st.text(max_size=12),
    ),
    # epochs: valid seconds/millis, negatives, fractions, out-of-range,
    # and non-numeric garbage — $ParseUnixTime nils everything but
    # integral in-range values, identically on both backends
    st.one_of(
        st.integers(-10, 2**45),
        st.floats(min_value=-1e3, max_value=1e12, allow_nan=False),
        st.none(),
        st.text(max_size=8),
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_rich_payload, min_size=1, max_size=20))
def test_rich_language_backends_agree_on_arbitrary_input(spark, payloads):
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        compile_mapping,
    )

    assert compile_mapping(RICH_CFG).supports_columns() is True
    df = spark.createDataFrame(
        [(str(i), p) for i, p in enumerate(payloads)], "id string, data string"
    )
    clock = "2024-01-01T00:00:00Z"
    got_c = {
        r["id"]: r["ok"]
        for r in apply_mapping(df, RICH_CFG, backend="columns", clock=clock).collect()
    }
    got_p = {
        r["id"]: r["ok"]
        for r in apply_mapping(df, RICH_CFG, backend="pandas", clock=clock).collect()
    }
    assert got_c == got_p


# `required` under fuzz: both backends must produce the SAME ok/err split
# and the SAME dead-letter message for every input shape (columns checks
# with row-level NULL conditions, pandas raises RecoverableMappingError)
REQ_CFG = """
out Output: P(root);
def P(input) {
  required s: input.kind;
  v: input.num;
}
"""


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_rich_payload, min_size=1, max_size=20))
def test_required_backends_agree_on_arbitrary_input(spark, payloads):
    df = spark.createDataFrame(
        [(str(i), p) for i, p in enumerate(payloads)], "id string, data string"
    )
    clock = "2024-01-01T00:00:00Z"
    def snap(backend):
        return {
            r["id"]: (r["ok"], r["err"]["error_message"] if r["err"] else None)
            for r in apply_mapping(df, REQ_CFG, backend=backend, clock=clock).collect()
        }
    assert snap("columns") == snap("pandas")


# curation under structural fuzz: dedup_lines must agree with a trivial
# pure-python reference model on arbitrary small corpora (line content
# arbitrary unicode sans newline; corpus shapes adversarial: shared lines,
# all-boilerplate docs, empty docs)
_line = st.text(
    alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)),
    max_size=8,
)
_doc = st.lists(_line, min_size=0, max_size=6).map("\n".join)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_doc, min_size=1, max_size=8), st.integers(2, 4))
def test_dedup_lines_matches_reference_model(spark, docs, min_docs):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        dedup_lines,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines_removed"])
        for r in dedup_lines(df, min_docs=min_docs).collect()
    }

    # reference model: line -> #distinct docs; keep below-threshold lines
    from collections import Counter

    per_doc = {i: d.split("\n") for i, d in rows}
    counts = Counter()
    for i, ls in per_doc.items():
        for l in set(ls):
            counts[l] += 1
    for i, ls in per_doc.items():
        keep = [l for l in ls if counts[l] < min_docs]
        removed = len(ls) - len(keep)
        assert got[i] == ("\n".join(keep), removed), (i, ls)


# chunking + packing under fuzz vs pure-python reference models: window
# arithmetic (strides, short tails, empty docs) and running-offset binning
# (straddles, group restarts) must hold on arbitrary corpora
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.text("abc", min_size=1, max_size=3), max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(2, 6),
    st.integers(0, 4),
)
def test_chunk_documents_matches_reference_model(spark, docs, chunk, overlap):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        chunk_documents,
    )

    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    }
    want = {}
    for i, d in enumerate(docs):
        toks = [w for w in d.split(" ") if w]
        starts = list(range(0, max(len(toks) - 1, 0) + 1, stride)) or [0]
        # sequence(0, greatest(n-1,0), stride): inclusive upper bound
        starts = [s for s in starts if s <= max(len(toks) - 1, 0)]
        for ci, s0 in enumerate(starts):
            win = toks[s0 : s0 + chunk]
            want[(i, ci)] = (
                " ".join(win),
                min(chunk, max(len(toks) - s0, 0)),
            )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 20),  # doc_id
            st.integers(0, 3),  # chunk_idx
            st.integers(0, 9),  # n_tokens
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(2, 12),
    st.integers(1, 8),
)
def test_pack_sequences_matches_reference_model(spark, chunks, seq_len, gsize):
    from collections import defaultdict

    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        chunks, "doc_id long, chunk_idx long, n_tokens long"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["grp"], r["seq_id"], r["seq_offset"])
        for r in pack_sequences(df, seq_len=seq_len, group_size=gsize).collect()
    }
    by_grp = defaultdict(list)
    for d, c, n in chunks:
        by_grp[d // gsize].append((d, c, n))
    want = {}
    for g, items in by_grp.items():
        cum = 0
        for d, c, n in sorted(items):
            want[(d, c)] = (g, cum // seq_len, cum % seq_len)
            cum += n
    assert got == want


# Final-wave curation ops under fuzz vs pure-python reference models:
# rule-filter edge cases (empty lines, punctuation-only lines, NULL docs)
# and the normalization pipeline's exact class definitions must hold on
# arbitrary corpora — exactly the inputs golden tests don't sweep.

_C4_PUNCT_OK = ".!?\""
_c4_line = st.text("abcde jJ{.!?\"'", max_size=24)
_c4_doc = st.one_of(
    st.none(),
    st.lists(_c4_line, max_size=6).map("\n".join),
    st.builds(
        lambda ls, inj: "\n".join(ls + [inj]),
        st.lists(_c4_line, max_size=4),
        st.sampled_from(
            [
                "lorem ipsum dolor sit amet here.",
                "please enable javascript to continue now.",
                "a b c d e.",
                "this line has five good words.",
            ]
        ),
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_c4_doc, min_size=1, max_size=6))
def test_c4_filters_matches_reference_model(spark, docs):
    from healthcare_data_harmonization_dataflow_spark.operators.curation import (
        c4_filters,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["clean_text"],
            r["n_lines_kept"],
            r["n_lines_total"],
            r["keep"],
        )
        for r in c4_filters(df, min_line_words=5, min_doc_lines=3).collect()
    }
    for i, d in rows:
        raw = d or ""
        lines = raw.split("\n")
        kept = [
            l
            for l in lines
            if l
            and l[-1] in _C4_PUNCT_OK
            and len([w for w in l.lower().split(" ") if w]) >= 5
            and "javascript" not in l.lower()
        ]
        keep = (
            len(kept) >= 3
            and "lorem ipsum" not in raw.lower()
            and "{" not in raw
        )
        assert got[i] == ("\n".join(kept), len(kept), len(lines), keep), (
            i,
            repr(d),
        )


# exact \p{Punct} set (the 32 ASCII punctuation chars Java and RE2 share)
_PUNCT32 = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
_norm_text = st.one_of(
    st.none(),
    st.text("aB cD0123\t\n\r" + _PUNCT32, max_size=40),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_norm_text, min_size=1, max_size=8))
def test_normalize_matches_reference_model(spark, docs):
    import re

    from healthcare_data_harmonization_dataflow_spark.functions.text import (
        normalize_documents,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["norm_text"]
        for r in normalize_documents(df).collect()
    }
    for i, d in rows:
        s = (d or "").lower()
        s = re.sub("[" + re.escape(_PUNCT32) + "]", " ", s)
        s = re.sub(r"[0-9]+", "0", s)
        s = re.sub(r"[ \t\n\r]+", " ", s).strip(" \t\n\r")
        assert got[i] == s, (i, repr(d))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.one_of(
            st.none(), st.text("ab c.1!x", max_size=30)
        ),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_pair_counts_matches_reference_model(spark, docs):
    import re
    from collections import Counter

    from healthcare_data_harmonization_dataflow_spark.operators.tokenize import (
        bpe_pair_counts,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rows_out = bpe_pair_counts(df, top_k=10_000).collect()
    got = {r["pair"]: r["pair_count"] for r in rows_out}

    wc = Counter()
    for _, d in rows:
        norm = re.sub("[" + re.escape(_PUNCT32) + "]", " ", (d or "").lower())
        for w in norm.split(" "):
            if w:
                wc[w] += 1
    ref = Counter()
    for w, c in wc.items():
        for j in range(len(w) - 1):
            ref[w[j] + " " + w[j + 1]] += c
    assert got == dict(ref), (docs,)
