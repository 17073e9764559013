"""Property-based invariants (reference: tests/suite/proptest_invariants.rs).

Hypothesis generates small adversarial inputs; each property is checked
against an independent Python-side model. Example counts are kept low —
every example pays a Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from timefusion_spark.functions.time import parse_interval_to_micros

# ── interval grammar: pure function, cheap — many examples ──────────────

UNITS = {
    "s": 1_000_000,
    "sec": 1_000_000,
    "secs": 1_000_000,
    "second": 1_000_000,
    "seconds": 1_000_000,
    "m": 60_000_000,
    "min": 60_000_000,
    "mins": 60_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "h": 3_600_000_000,
    "hr": 3_600_000_000,
    "hrs": 3_600_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "d": 86_400_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
    "w": 604_800_000_000,
    "week": 604_800_000_000,
    "weeks": 604_800_000_000,
}


@given(
    n=st.integers(min_value=1, max_value=10_000),
    unit=st.sampled_from(sorted(UNITS)),
    sep=st.sampled_from(["", " ", "  "]),
)
def test_interval_grammar_model(n, unit, sep):
    assert parse_interval_to_micros(f"{n}{sep}{unit}") == n * UNITS[unit]


@given(st.text(max_size=12).filter(lambda s: not s.strip() or not s[:1].isdigit()))
def test_interval_garbage_rejected(s):
    import pytest

    with pytest.raises(ValueError):
        parse_interval_to_micros(s)


# ── to_char literal passthrough: quoted text survives verbatim ──────────


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lit=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters='"'),
        min_size=1,
        max_size=20,
    )
)
def test_to_char_literal_passthrough(spark, lit):
    from pyspark.sql import functions as F

    from timefusion_spark.functions.pg_format import to_char

    df = spark.createDataFrame([("2026-06-10 08:10:52",)], "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    got = df.select(to_char(F.col("ts"), f'"{lit}"').alias("o")).collect()[0]["o"]
    assert got == lit


# ── MOR view invariants vs a Python model ────────────────────────────────


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=5),   # stamp (version)
            st.integers(min_value=-100, max_value=100),  # value
            st.booleans(),                            # tombstone
        ),
        min_size=1,
        max_size=25,
    )
)
def test_keep_greatest_view_matches_model(spark, tmp_path_factory, rows):
    """For ANY multiset of row versions, the keep-greatest view equals the
    model: per key, the max-stamp version (ties → any of the tied, but the
    engine is deterministic: last-appended wins); tombstone winners are
    invisible."""
    from pyspark.sql import functions as F

    from timefusion_spark.storage import Table, load_schema_text
    from tests.test_storage import MOR_YAML

    tbl = Table.create(
        spark, load_schema_text(MOR_YAML), str(tmp_path_factory.mktemp("prop") / "t")
    )
    # append one batch per stamp group (stamp_version overwrites per append)
    by_stamp: dict[int, list] = {}
    for key, stamp, value, dead in rows:
        by_stamp.setdefault(stamp, []).append((key, value, dead))
    for stamp in sorted(by_stamp):
        batch = spark.createDataFrame(
            [
                ("2026-01-01 00:00:00", f"k{key}", float(value), "p", bool(dead))
                for key, value, dead in by_stamp[stamp]
            ],
            "timestamp string, id string, value double, project_id string, deleted boolean",
        )
        tbl.append(batch, stamp=f"2026-02-0{stamp + 1} 00:00:00")

    # model: winner per key = greatest stamp, ties → last in that batch
    winners: dict[str, tuple[int, float, bool]] = {}
    for stamp in sorted(by_stamp):
        for key, value, dead in by_stamp[stamp]:
            winners[f"k{key}"] = (stamp, float(value), dead)
    expected = {k: v for k, (s, v, dead) in winners.items() if not dead}

    got = {r["id"]: r["value"] for r in tbl.read().collect()}
    assert got == expected


class TestSimilarToCompiler:
    """Property: the shim's SIMILAR TO → Java-regex compiler agrees with a
    reference implementation built on Python's re over the SQL-wildcard
    subset (%, _, literal text incl. regex metachars)."""

    @given(
        st.text(
            alphabet="abcxyz.%_^$ ",
            min_size=0,
            max_size=12,
        ),
        st.text(alphabet="abcxyz. ", min_size=0, max_size=12),
    )
    @settings(max_examples=200, deadline=None)
    def test_wildcard_subset_matches_python_reference(self, pattern, candidate):
        import re as _re

        from timefusion_spark.pgshim import _similar_to_regex

        # Reference semantics: % = any run, _ = any char, everything else
        # literal (the subset without SQL-regex operators).
        ref = "".join(
            ".*" if ch == "%" else "." if ch == "_" else _re.escape(ch)
            for ch in pattern
        )
        want = _re.fullmatch(ref, candidate) is not None
        compiled = _similar_to_regex(pattern)
        # The shim emits doubled escapes for the Spark string-literal
        # layer; undo that one level to get the raw Java/Python regex.
        got = _re.fullmatch(compiled.replace("\\\\", "\\"), candidate) is not None
        assert got == want


class TestWireParsingProperties:
    """Properties of the pgwire server's SQL scanners: statement splitting
    and $n parameter substitution must respect string/dollar-quoting for
    ANY input — a malformed split corrupts user SQL silently."""

    @given(
        st.lists(
            st.text(alphabet="abc;'$1 ", min_size=1, max_size=12).filter(
                lambda s: s.strip()
            ),
            min_size=1,
            max_size=4,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_split_never_breaks_inside_quotes(self, fragments):
        from timefusion_spark.server import _split_statements

        # embed each fragment inside a single-quoted literal (quotes
        # doubled), join with semicolons: the split must return exactly
        # one statement per fragment, with the literal intact
        stmts = [f"SELECT '{f.replace(chr(39), chr(39) * 2)}'" for f in fragments]
        out = _split_statements("; ".join(stmts))
        assert out == stmts

    @given(st.text(alphabet="ab'$12; ", max_size=24))
    @settings(max_examples=300, deadline=None)
    def test_split_concat_preserves_content(self, sql):
        """Splitting then rejoining loses only separators/whitespace, never
        statement text: every non-semicolon char run survives."""
        from timefusion_spark.server import _split_statements

        out = _split_statements(sql)
        # every returned piece is a substring of the input
        for piece in out:
            assert piece in sql

    @given(
        st.lists(
            st.one_of(st.none(), st.text(alphabet="ab'c%3", max_size=8)),
            min_size=1,
            max_size=3,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_param_substitution_quotes_and_nulls(self, params):
        from timefusion_spark.server import _substitute_params

        sql = "SELECT " + ", ".join(f"${i+1}" for i in range(len(params)))
        out = _substitute_params(sql, params)
        for v in params:
            if v is None:
                assert "NULL" in out
            else:
                assert "'" + v.replace("'", "''") + "'" in out
        assert "$" not in out  # every placeholder consumed

    @given(st.text(alphabet="ab$12'", max_size=16))
    @settings(max_examples=200, deadline=None)
    def test_placeholders_inside_literals_untouched(self, body):
        from timefusion_spark.server import _substitute_params

        lit = "'" + body.replace("'", "''") + "'"
        sql = f"SELECT {lit}, $1"
        out = _substitute_params(sql, ["x"])
        assert out == f"SELECT {lit}, 'x'"

    @given(
        st.lists(st.integers(0, 999), min_size=1, max_size=4),
        st.lists(
            st.sampled_from(
                [
                    "-- junk; more\n",
                    "/* junk; tail */",
                    "/* junk; /* nested; deeper */ tail */",
                    "",
                ]
            ),
            min_size=1,
            max_size=4,
        ),
    )
    @settings(max_examples=200, deadline=None)
    def test_split_ignores_semicolons_in_comments(self, nums, comments):
        """Semicolons inside `--` and (nesting) /* */ comments are text;
        the statement count never changes and comment prose never leaks
        into a statement."""
        from timefusion_spark.server import _split_statements

        stmts = [
            f"SELECT {n} AS c{i} {comments[i % len(comments)]}"
            for i, n in enumerate(nums)
        ]
        out = _split_statements(";".join(stmts))
        assert len(out) == len(nums)
        for i, piece in enumerate(out):
            assert f"AS c{i}" in piece
            assert "junk" not in piece and "nested" not in piece

    @given(
        st.integers(1, 5),
        st.sampled_from(["-- $9 decoy\n", "/* $9 */", "'$9'", "$tag$ $9 $tag$"]),
    )
    @settings(max_examples=200, deadline=None)
    def test_param_indices_distinct_and_region_blind(self, n, decoy):
        """ParameterDescription arity: each index counts once however
        often it repeats, and `$9` inside comments/literals/dollar-quoted
        bodies counts zero."""
        from timefusion_spark.server import _param_indices

        exprs = " + ".join(
            f"${i}" for i in list(range(1, n + 1)) + list(range(1, n + 1))
        )
        sql = f"SELECT {decoy}\n {exprs}"
        assert _param_indices(sql) == set(range(1, n + 1))

    @given(
        st.lists(
            st.one_of(
                st.tuples(st.just("code"), st.text(alphabet="ab (),;", max_size=6)),
                st.tuples(
                    st.sampled_from(["'", '"', "`", "$$", "$t$", "--", "/*", "/*/*"]),
                    st.text(alphabet="ab (),;'\"`", max_size=8),
                ),
            ),
            max_size=8,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_region_scans_never_cut_inside_a_region(self, parts):
        """Text interleaving code with every sqltext region kind, each
        region holding ( ) , ; ' and ": split_top, close_paren and
        outside_regions act only on code, as an independent model of the
        code characters says, and the statement splitter is split_top
        on ';' with comments blanked."""
        from timefusion_spark.server import _split_statements
        from timefusion_spark.sqltext import close_paren, outside_regions, split_top, walk

        sql, blank, spans, code = "", "", [], []  # code: (pos in sql, pos in blank)
        for kind, body in parts:
            if sql:
                sql, blank = sql + " ", blank + " "
            if kind == "code":
                code += [(len(sql) + k, len(blank) + k) for k in range(len(body))]
                sql, blank = sql + body, blank + body
                continue
            if kind in ("'", '"', "`"):
                region = kind + body.replace(kind, kind * 2) + kind
            elif kind.startswith("$"):
                region = kind + body + kind
            elif kind == "--":
                region = "--" + body + "\n"
            elif kind == "/*":
                region = "/*" + body + "*/"
            else:  # PG block comments nest
                region = "/*" + body + "/*" + body + "*/" + body + "*/"
            spans.append((len(sql), len(sql) + len(region)))
            sql += region
            blank += " " if kind.startswith(("--", "/*")) else region

        assert [(i, j) for i, j, _, k in walk(sql) if k in ("quote", "comment")] == spans

        depth, cuts = 0, []
        for k, b in code:
            depth += {"(": 1, ")": -1}.get(sql[k], 0)
            if sql[k] == ";" and depth <= 0:
                cuts.append((k, b))
        edges = [(-1, -1)] + cuts + [(len(sql), len(blank))]
        assert split_top(sql, ";") == [
            sql[a + 1 : z] for (a, _), (z, _) in zip(edges, edges[1:])
        ]
        stmts = [blank[a + 1 : z].strip() for (_, a), (_, z) in zip(edges, edges[1:])]
        assert _split_statements(sql) == [s for s in stmts if s]

        opens = [n for n, (k, _) in enumerate(code) if sql[k] == "("]
        for n in opens:
            depth, want = 0, None
            for k, _ in code[n:]:
                depth += {"(": 1, ")": -1}.get(sql[k], 0)
                if depth == 0:
                    want = k
                    break
            assert close_paren(sql, code[n][0]) == want

        up = outside_regions(sql, str.upper)
        assert len(up) == len(sql)
        assert all(up[i:j] == sql[i:j] for i, j in spans)
        assert all(up[k] == sql[k].upper() for k, _ in code)


class TestRewriteIdents:
    """Property tests for the transaction view-overlay identifier rewrite
    (server._rewrite_idents): quoted regions are inviolable, non-table
    words never change, and the rewrite is a fixpoint of itself when the
    mapping's values don't collide with its keys."""

    @given(st.text(alphabet="abcdef eventsx.,'\"$;()", max_size=60))
    @settings(max_examples=300, deadline=None)
    def test_empty_mapping_is_identity(self, sql):
        from timefusion_spark.server import _rewrite_idents

        assert _rewrite_idents(sql, {}) == sql

    @given(st.text(alphabet="abxy _.,'()=", max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_nonmatching_words_untouched(self, sql):
        from timefusion_spark.server import _rewrite_idents

        assert _rewrite_idents(sql, {"zzz_table": "__v"}) == sql

    @given(st.text(alphabet="abc events'%_", max_size=20))
    @settings(max_examples=300, deadline=None)
    def test_single_quoted_literals_inviolable(self, body):
        from timefusion_spark.server import _rewrite_idents

        lit = "'" + body.replace("'", "''") + "'"
        sql = f"SELECT {lit} FROM events"
        out = _rewrite_idents(sql, {"events": "__v_events"})
        assert out == f"SELECT {lit} FROM __v_events"

    @given(st.text(alphabet="abc events ._", max_size=30))
    @settings(max_examples=300, deadline=None)
    def test_rewrite_is_idempotent_on_disjoint_names(self, sql):
        """Values never collide with keys, so rewriting twice == once."""
        from timefusion_spark.server import _rewrite_idents

        m = {"events": "__v_events", "abc": "__v_abc"}
        once = _rewrite_idents(sql, m)
        assert _rewrite_idents(once, m) == once

    @given(
        st.lists(
            st.sampled_from(["events", "docs", "col", "x"]), min_size=1, max_size=6
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_qualified_column_refs_keep_qualifier_semantics(self, words):
        """`w.c` rewrites w (the relation qualifier) but never c."""
        from timefusion_spark.server import _rewrite_idents

        sql = " ".join(f"{w}.events" for w in words)
        out = _rewrite_idents(sql, {"events": "__v"})
        # events AFTER a dot is a column ref — must survive verbatim
        assert ".events" in out and ".__v" not in out


# ── BM25: Spark pipeline vs an independent Python model ─────────────────


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
    ),
    terms=st.lists(
        st.sampled_from(["alpha", "beta", "zeta"]), min_size=1, max_size=2, unique=True
    ),
)
def test_bm25_matches_python_model(spark, docs, terms):
    import math

    from timefusion_spark.operators.ranking import bm25_scores

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(df, "doc_id", "text", list(terms)).collect()
    }
    n = len(docs)
    avgdl = sum(len(ws) for ws in docs) / n
    for i, ws in enumerate(docs):
        want = 0.0
        for t in terms:
            tf = ws.count(t)
            dfreq = sum(1 for w in docs if t in w)
            idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
            want += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avgdl))
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)
