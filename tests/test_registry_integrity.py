"""Registry hygiene: the driver consumes `queries()`/`oracle_sql()`
blind, so structural mistakes (an entry out of registration order, a
duplicate registration, an oracle DuckDB can't even parse) must fail
fast here rather than as a silent driver red."""

import duckdb
import pytest

from datalakehouse_spark.registry import (
    REGISTRY,
    _load_extensions,
    oracle_sql,
    queries,
    register,
)

_load_extensions()


def test_driver_contract_iterates_registration_order():
    """The driver runs entries in the order bench.py and the oracle
    sweep do: REGISTRY's registration order, with no other name list."""
    assert list(queries()) == list(REGISTRY)
    assert list(oracle_sql()) == [n for n, s in REGISTRY.items() if s.sql is not None]


def test_duplicate_registration_fails_fast():
    """A second ``@register`` of a taken name raises, naming it, and
    leaves the first entry in place."""
    name = next(iter(REGISTRY))
    first = REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        register(name, None, "duplicate")(lambda spark, sf: None)
    assert REGISTRY[name] is first


def test_every_entry_has_description():
    empty = [n for n, s in REGISTRY.items() if not (s.doc or "").strip()]
    assert not empty


@pytest.mark.parametrize(
    "name", [n for n, s in REGISTRY.items() if s.sql is not None]
)
def test_oracle_sql_parses_in_duckdb(name):
    """Catch SQL-dialect typos without running anything: DuckDB must at
    least PLAN every oracle against empty tables of the fixture schema."""
    con = duckdb.connect()
    for t, cols in {
        "region": "r_regionkey INT, r_name VARCHAR",
        "nation": "n_nationkey INT, n_name VARCHAR, n_regionkey INT",
        "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment VARCHAR",
        "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INT, "
        "s_acctbal DOUBLE",
        "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, "
        "p_type VARCHAR, p_size INT, p_retailprice DOUBLE",
        "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
        "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
        "l_linestatus VARCHAR, l_shipdate TIMESTAMP",
        "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR",
        "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT",
        "embeddings": "vec_id BIGINT, embedding FLOAT[], label INT",
    }.items():
        con.execute(f"CREATE TABLE {t} ({cols})")
    sql = REGISTRY[name].sql
    # EXPLAIN = parse + bind + plan, no execution (some oracles touch
    # temp paths at run time; planning is the structural check we want)
    con.execute(f"EXPLAIN {sql}")
    con.close()


def test_eager_build_class_is_exact(spark, last_job_id):
    """The lazy-build contract, pinned BOTH ways: no entry without
    ``QuerySpec.eager`` may run a Spark job at build time (an eager
    collect/count/write sneaking into a query entry is a driver-side
    scale bug), and every eager entry must actually run one (else the
    flag is stale).  Jobs are counted by job id, not by the caller's
    job group: a streaming query runs its jobs on the stream thread
    under its own job group (the query's runId), which a group scan
    cannot see.  Tables are pre-warmed first so load_table's one-off
    schema-sniff job isn't attributed to the first entry touching each
    table, and every memo is cleared before EVERY entry: the pinned
    contract is cold-session build behavior — with a single up-front
    clear, whichever memoized entry runs first warms the memo for its
    siblings (e.g. semantic_dedup sharing the IVF coarse build) and the
    sweep would misread them as lazy."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.registry import clear_memos

    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        load_table(spark, sf, t)

    observed = set()
    for name, spec in REGISTRY.items():
        clear_memos()
        before = last_job_id()
        spec.fn(spark, sf)
        if last_job_id() > before:
            observed.add(name)
    eager = {n for n, s in REGISTRY.items() if s.eager}
    assert observed - eager == set(), (
        "entries running Spark jobs at build time without QuerySpec.eager: "
        f"{sorted(observed - eager)}"
    )
    assert eager - observed == set(), (
        "stale eager flags (no longer run build-time jobs): "
        f"{sorted(eager - observed)}"
    )


# ---------------------------------------------------------------------------
# Float64-cliff lint (round 12, VERDICT r11 #6).  DuckDB's `.df()`
# materializes EVERY integer (hugeint) and decimal SUM as float64 —
# exact below 2^53, silently rounded above it (probed: SUM(2^60+3)
# reads 1.152921504606847e+18).  The sf0.1 sweep caught this twice
# (r9 `max_concurrency`, r11 the DECIMAL(38) excision digest); this
# lint encodes the lesson statically: an oracle SUM whose per-row
# addend can be HUGE — a hex-to-integer digest idiom, or an explicit
# DECIMAL cast budgeting >= 17 integer digits (2^53 ~ 9.0e15 is 16) —
# must leave the query as a decimal-digit STRING (the
# `dup_span_excision_apply` pattern: CAST(SUM(...) AS VARCHAR), with
# the Spark side emitting .cast("decimal(38,0)").cast("string")) or
# via an EXPLICIT CAST ... AS DOUBLE (the dsum/davg convention: one
# deliberate, documented rounding both engines apply identically).
# Anything else materializes through float64 without the author ever
# having said "float" — bit-green at sf0.01, drifting at volume.
# ---------------------------------------------------------------------------

import re as _re

_HEX_IDIOMS = ("'0x'", "from_hex(", "unhex(")
# BIGINT is safe-by-loudness: duckdb materializes int64 exactly and
# ERRORS on overflow instead of rounding silently.
_SAFE_FINAL = ("VARCHAR", "TEXT", "STRING", "DOUBLE", "FLOAT8", "REAL", "BIGINT", "INT8")


def _sum_calls(sql: str):
    """Yield (call_text, final_cast_type) for each SUM(...) in sql,
    following the chain of DIRECTLY-enclosing CASTs to the type the
    aggregate ultimately materializes as (None = bare: DuckDB picks
    hugeint/decimal and .df() renders float64)."""
    for m in _re.finditer(r"\bSUM\s*\(", sql, _re.I):
        i, depth = m.end(), 1
        while depth and i < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        call = sql[m.start():i]
        final = None
        s, e = m.start(), i
        while True:  # walk outward through directly-wrapping CASTs
            pre = sql[max(0, s - 40):s]
            wrap = _re.search(r"CAST\s*\(\s*$", pre, _re.I)
            # consume parenthesized type args (DECIMAL(38,0)) so the
            # walk can continue to an outer CAST ... AS VARCHAR
            post = _re.match(
                r"\s*AS\s+([A-Za-z0-9_]+)(\s*\(\s*\d+\s*(?:,\s*\d+)?\s*\))?\s*\)",
                sql[e:],
            )
            if not (wrap and post):
                break
            final = post.group(1).upper()
            s = s - (len(pre) - wrap.start())
            e = e + post.end()
        yield call, final


def test_oracle_sums_avoid_float64_cliff():
    flagged = []
    for name, spec in REGISTRY.items():
        if spec.sql is None:
            continue
        for call, final in _sum_calls(spec.sql):
            low = call.lower()
            huge = any(h in low for h in _HEX_IDIOMS)
            for p, sc in _re.findall(r"DECIMAL\s*\(\s*(\d+)\s*(?:,\s*(\d+))?", call, _re.I):
                if int(p) - int(sc or 0) >= 17:
                    huge = True
            if huge and (final or "") not in _SAFE_FINAL:
                flagged.append((name, final, call[:90]))
    assert not flagged, (
        "oracle SUM(s) with huge addends must be emitted as a decimal-"
        "digit STRING (CAST(SUM(...) AS VARCHAR); Spark: .cast('decimal"
        "(38,0)').cast('string') — see dup_span_excision_apply / "
        "registry_ext6.py) or an explicit CAST AS DOUBLE: "
        f"{flagged}"
    )


def test_float64_cliff_lint_catches_the_r11_shape():
    """The lint must flag the exact pre-fix r11 digest shape (decimal-
    typed SUM of a hex digest, no string emission) and pass the fixed
    one — otherwise it lints nothing."""
    bad = "SELECT CAST(SUM(CAST(('0x' || substr(dmd5,1,15)) AS BIGINT)) AS DECIMAL(38,0)) AS d FROM t"
    bare = "SELECT SUM(CAST(x AS DECIMAL(38,0))) AS d FROM t"
    good = ("SELECT CAST(CAST(SUM(CAST(('0x' || substr(dmd5,1,15)) AS BIGINT)) "
            "AS DECIMAL(38,0)) AS VARCHAR) AS d FROM t")
    dsum_style = "SELECT CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s FROM t"

    def finals(sql):
        return [(f, any(h in c.lower() for h in _HEX_IDIOMS)) for c, f in _sum_calls(sql)]

    assert finals(bad) == [("DECIMAL", True)]
    assert finals(bare) == [(None, False)]
    assert finals(good) == [("VARCHAR", True)]
    assert finals(dsum_style) == [("DOUBLE", False)]
