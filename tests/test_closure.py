"""Closure-engine tests: semantics from /root/reference/etl/extractor.go,
exercised on the star-schema fixture (the part the reference never tested)."""

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mover_spark.operators.closure import SchemaConfig, extract_closure

from .conftest import SF_DIR


def _oracle(sql: str):
    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchall()


def test_default_depth0_closure(spark, catalog):
    """Seed customers: FK pulls nation->region; depth-0 reverse FK pulls
    orders; orders' rows are depth 2, so lineitem is NOT pulled
    (extractor.go:40-42 gate)."""
    seed = catalog.df("customer").where(F.col("c_custkey") <= 10)
    out = extract_closure(spark, catalog, [("customer", seed)])

    assert set(out) == {"customer", "nation", "region", "orders"}

    n_orders = out["orders"].count()
    (expected,) = _oracle(
        "SELECT count(*) FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_custkey <= 10)"
    )[0]
    assert n_orders == expected

    n_nation = out["nation"].count()
    (expected_n,) = _oracle(
        "SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_custkey <= 10"
    )[0]
    assert n_nation == expected_n


def test_allowlisted_reverse_fk_any_depth(spark, catalog):
    """Allowlisting lineitem's FK on orders follows it at any depth
    (extractor.go:44-50), pulling lineitem -> part/supplier -> nation ->
    region transitively."""
    seed = catalog.df("customer").where(F.col("c_custkey") <= 5)
    cfg = {"orders": SchemaConfig("orders", reference_keys=["lineitem_fk_l_orderkey"])}
    out = extract_closure(spark, catalog, [("customer", seed)], cfg)

    assert set(out) == {
        "customer",
        "nation",
        "region",
        "orders",
        "lineitem",
        "part",
        "supplier",
    }
    (expected_li,) = _oracle(
        "SELECT count(*) FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_custkey IN "
        " (SELECT c_custkey FROM customer WHERE c_custkey <= 5))"
    )[0]
    assert out["lineitem"].count() == expected_li
    (expected_p,) = _oracle(
        "SELECT count(DISTINCT l_partkey) FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_custkey IN "
        " (SELECT c_custkey FROM customer WHERE c_custkey <= 5))"
    )[0]
    assert out["part"].count() == expected_p


def test_omit_reference_keys(spark, catalog):
    """omit_reference_keys suppresses the depth-0 fan-out (extractor.go:40)."""
    seed = catalog.df("customer").where(F.col("c_custkey") <= 10)
    cfg = {"customer": SchemaConfig("customer", omit_reference_keys=True)}
    out = extract_closure(spark, catalog, [("customer", seed)], cfg)
    assert "orders" not in out
    assert set(out) == {"customer", "nation", "region"}


def test_cycle_termination(spark, catalog):
    """Self-referential FK terminates via the visited anti-join
    (mirrors extractor.go:96-103; the reference never tested cycles)."""
    emp = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, None)], "id long, manager_id long"
    )
    emp.write.mode("overwrite").parquet("/tmp/cycle_fixture/employee.parquet")
    from mover_spark.catalog import Catalog

    cat = Catalog(
        spark,
        "/tmp/cycle_fixture",
        sidecar={
            "employee": {
                "pk": ["id"],
                "fks": [{"cols": ["manager_id"], "ref": "employee", "ref_cols": ["id"]}],
            }
        },
    )
    seed = cat.df("employee").where(F.col("id") == 1)
    out = extract_closure(spark, cat, [("employee", seed)])
    # reaches the whole 1->2->3->1 cycle, not row 4... but depth-0 reverse FK
    # on employee itself also fans out children of row 1 (row 3 points at 1).
    ids = {r.id for r in out["employee"].collect()}
    assert ids == {1, 2, 3}


def test_config_query_template(spark, catalog):
    """Templated config sub-queries ({attr} substitution, extractor.go:70-79)."""
    seed = catalog.df("nation").where(F.col("n_nationkey") == 3)
    cfg = {
        "nation": SchemaConfig(
            "nation",
            omit_reference_keys=True,
            queries=[("supplier", "SELECT * FROM supplier WHERE s_nationkey = {n_nationkey}")],
        )
    }
    out = extract_closure(spark, catalog, [("nation", seed)], cfg)
    (expected,) = _oracle("SELECT count(*) FROM supplier WHERE s_nationkey = 3")[0]
    assert expected > 0  # fixture sanity: nation 3 has suppliers
    assert out["supplier"].count() == expected


def test_no_pk_table_keeps_all_rows(spark, catalog):
    """The fixture's lineitem has NO unique PK ((l_orderkey, l_linenumber)
    collides); key-set closure must not drop distinct rows — the reference's
    row-PK memoization (dialect.go:32-34) silently would."""
    seed = catalog.df("orders").where(F.col("o_orderkey") <= 20)
    cfg = {"orders": SchemaConfig("orders", reference_keys=["lineitem_fk_l_orderkey"])}
    out = extract_closure(spark, catalog, [("orders", seed)], cfg)
    (expected,) = _oracle(
        "SELECT count(*) FROM lineitem WHERE l_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_orderkey <= 20)"
    )[0]
    assert out["lineitem"].count() == expected


def test_seed_multiplicity_preserved_then_sanitize_dedups(spark, catalog):
    """Closure preserves seed multiplicity; PK-dedup is the sanitizer's job
    (etl/sanitizer.go:38-64)."""
    from mover_spark.operators.sanitize import sanitize_df

    ord_ = catalog.df("orders").where(F.col("o_orderkey") <= 20)
    doubled = ord_.unionByName(ord_)
    out = extract_closure(
        spark,
        catalog,
        [("orders", doubled)],
        {"orders": SchemaConfig("orders", omit_reference_keys=True)},
    )
    assert out["orders"].count() == 2 * ord_.count()
    assert sanitize_df(out["orders"], [], ["o_orderkey"]).count() == ord_.count()


def test_compile_config_query_shapes():
    """Conjunctive equality/IN templates compile to join pairs; anything
    richer (OR, literals, repeated columns) falls back."""
    from mover_spark.operators.closure import compile_config_query as cc

    assert cc("SELECT * FROM orders WHERE o_custkey = {c_custkey}") == (
        "orders", [("o_custkey", "c_custkey")]
    )
    assert cc(
        "select * from orders where o_custkey = {c_custkey} "
        "AND o_orderstatus IN ({status_lit});"
    ) == ("orders", [("o_custkey", "c_custkey"), ("o_orderstatus", "status_lit")])
    # OR is not an equi-join
    assert cc("SELECT * FROM orders WHERE o_custkey = {a} OR o_clerk = {b}") is None
    # literal predicates are not compiled (would need source-side filtering)
    assert cc("SELECT * FROM orders WHERE o_custkey = {a} AND o_totalprice > 5") is None
    # repeated column can't be one join key
    assert cc("SELECT * FROM orders WHERE o_custkey = {a} AND o_custkey = {b}") is None
    # projections other than * are arbitrary SQL
    assert cc("SELECT o_orderkey FROM orders WHERE o_custkey = {a}") is None


def test_config_query_conjunctive_semijoin(spark, catalog):
    """A two-predicate template runs as ONE distributed semi-join (no driver
    loop), matching the per-row oracle semantics."""
    seed = catalog.df("customer").where(F.col("c_custkey") <= 20).withColumn(
        "status_lit", F.lit("F")
    )
    cfg = {
        "customer": SchemaConfig(
            "customer",
            omit_reference_keys=True,
            queries=[(
                "orders",
                "SELECT * FROM orders WHERE o_custkey = {c_custkey} "
                "AND o_orderstatus = {status_lit}",
            )],
        )
    }
    out = extract_closure(spark, catalog, [("customer", seed)], cfg)
    (expected,) = _oracle(
        "SELECT count(*) FROM orders WHERE o_orderstatus = 'F' AND o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_custkey <= 20)"
    )[0]
    assert expected > 0
    assert out["orders"].count() == expected


def test_config_query_fallback_cap(spark, catalog, monkeypatch):
    """Non-compilable templates (OR) still work at low cardinality but fail
    loudly past the cap instead of melting the driver."""
    from mover_spark.operators import closure as closure_mod

    cfg = {
        "nation": SchemaConfig(
            "nation",
            omit_reference_keys=True,
            queries=[(
                "supplier",
                "SELECT * FROM supplier WHERE s_nationkey = {n_nationkey} "
                "OR s_suppkey = {n_nationkey}",
            )],
        )
    }
    seed = catalog.df("nation").where(F.col("n_nationkey") == 3)
    out = extract_closure(spark, catalog, [("nation", seed)], cfg)
    (expected,) = _oracle(
        "SELECT count(*) FROM supplier WHERE s_nationkey = 3 OR s_suppkey = 3"
    )[0]
    assert out["supplier"].count() == expected

    monkeypatch.setattr(closure_mod, "CONFIG_QUERY_FALLBACK_CAP", 2)
    seed_many = catalog.df("nation").where(F.col("n_nationkey") <= 10)
    with pytest.raises(RuntimeError, match="cardinality"):
        extract_closure(spark, catalog, [("nation", seed_many)], cfg)


def test_duplicate_seed_tables_union_not_overwrite(spark, catalog):
    """Two seeds over the same table must BOTH appear in the output (the
    old dict assignment silently dropped the first seed's rows while
    still expanding them)."""
    a = catalog.df("customer").where(F.col("c_custkey").between(1, 5))
    b = catalog.df("customer").where(F.col("c_custkey").between(100, 104))
    out = extract_closure(spark, catalog, [("customer", a), ("customer", b)])
    got = {r.c_custkey for r in out["customer"].select("c_custkey").collect()}
    assert got == set(range(1, 6)) | set(range(100, 105))


def test_projected_seed_skips_absent_fk_edges(spark, catalog):
    """A seed that projects away FK/PK columns must still extract (the
    reference iterates the row map and skips absent attrs,
    extractor.go:107-129) — present FK edges expand, absent ones skip."""
    seed = (
        catalog.df("orders")
        .where(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    out = extract_closure(spark, catalog, [("orders", seed)])
    assert "customer" in out  # o_custkey FK present -> expanded
    assert out["orders"].count() == seed.count()


def test_format_value_quotes_dates_and_bools():
    import datetime

    from mover_spark.operators.closure import _format_value

    assert _format_value(datetime.date(1995, 3, 15)) == "'1995-03-15'"
    assert (
        _format_value(datetime.datetime(1995, 3, 15, 12, 30))
        == "'1995-03-15 12:30:00'"
    )
    assert _format_value(True) == "TRUE"
    assert _format_value(False) == "FALSE"
    assert _format_value(None) == "NULL"
    assert _format_value("o'brien") == "'o''brien'"
    assert _format_value(7) == "7"


def test_config_query_missing_attr_fails_loudly(spark, catalog):
    """A fallback template referencing an attr the frontier lacks must
    raise a clear config error, not leave '{x}' for the SQL parser."""
    seed = catalog.df("nation").where(F.col("n_nationkey") <= 2)
    cfg = {
        "nation": SchemaConfig(
            "nation",
            queries=[("region", "SELECT * FROM region WHERE r_comment = {nope} OR 1=0")],
        )
    }
    with pytest.raises(RuntimeError, match="nope.*not present"):
        extract_closure(spark, catalog, [("nation", seed)], cfg)


def test_same_template_two_tables_extracts_both(spark, catalog):
    """The reference caches per TARGET table (extractor.go:146-156): an
    identical non-compilable template on two targets must run for both."""
    seed = catalog.df("nation").where(F.col("n_nationkey") == 1)
    tmpl = "SELECT * FROM region WHERE r_regionkey = {n_regionkey} OR 1=0"
    cfg = {
        "nation": SchemaConfig(
            "nation", queries=[("region", tmpl), ("region2", tmpl)]
        )
    }
    spark.sql("DROP VIEW IF EXISTS region2")
    catalog.df("region").createOrReplaceTempView("region2_src")
    # register an alias view so the second target resolves
    spark.sql("CREATE TEMP VIEW region2 AS SELECT * FROM region2_src")
    out = extract_closure(spark, catalog, [("nation", seed)], cfg)
    assert "region" in out and "region2" in out
    # region2 gets exactly the config-query row (region additionally
    # receives nation's FK-fetched parent, so counts differ by design)
    assert out["region2"].count() == 1


def _employee_chain(spark, path, depth):
    """Employees 1..depth, each managed by the previous one, plus one
    report of the tail (depth+1) and that report's report (depth+2)."""
    from mover_spark.catalog import Catalog

    rows = [(i, i - 1 if i > 1 else None) for i in range(1, depth + 3)]
    spark.createDataFrame(rows, "id long, manager_id long").write.mode(
        "overwrite"
    ).parquet(f"{path}/employee.parquet")
    return Catalog(
        spark,
        str(path),
        sidecar={
            "employee": {
                "pk": ["id"],
                "fks": [{"cols": ["manager_id"], "ref": "employee", "ref_cols": ["id"]}],
            }
        },
        register_views=False,
    )


def _plan_shape(df):
    """(height, join count) of a frame's analyzed plan."""
    lines = df._jdf.queryExecution().analyzed().treeString().splitlines()
    height = max(len(line) - len(line.lstrip(" :+-")) for line in lines) // 3
    return height, sum("Join" in line for line in lines)


def test_deep_self_reference_chain(spark, tmp_path):
    """A self-referencing FK followed 12 rounds deep extracts the exact
    chain, and its returned plans do not grow with the depth: each round
    reads checkpoints, never the rounds before it."""
    shapes = {}
    for depth in (4, 12):
        cat = _employee_chain(spark, tmp_path / f"d{depth}", depth)
        seed = cat.df("employee").where(F.col("id") == depth)
        out = extract_closure(spark, cat, [("employee", seed)])
        ids = [r.id for r in out["employee"].collect()]
        # the manager chain up to the head, plus the seed's direct report
        # (depth-0 reverse FK) but not that report's report
        assert sorted(ids) == list(range(1, depth + 2))
        shapes[depth] = max(_plan_shape(df) for df in out.values())
    (h4, j4), (h12, j12) = shapes[4], shapes[12]
    assert h12 <= h4 + 1 and j12 <= j4, shapes


#: acct.parent -> acct (self-reference), acct.bid -> bank, txn.aid -> acct;
#: txn's declared PK (tid) repeats, so it is not pk_unique.
_GRAPH_KEYS = {
    "acct": {
        "pk": ["id"],
        "fks": [
            {"cols": ["parent"], "ref": "acct", "ref_cols": ["id"]},
            {"cols": ["bid"], "ref": "bank", "ref_cols": ["id"]},
        ],
    },
    "bank": {"pk": ["id"], "fks": []},
    "txn": {
        "pk": ["tid"],
        "pk_unique": False,
        "fks": [{"cols": ["aid"], "ref": "acct", "ref_cols": ["id"]}],
    },
}
#: the row identity compared per table (txn's PK is not one)
_ROW_ID = {"acct": "id", "bank": "id", "txn": "rid"}


@st.composite
def _fk_graphs(draw):
    n_acct = draw(st.integers(1, 7))
    n_bank = draw(st.integers(1, 3))
    maybe = lambda n: st.one_of(st.none(), st.integers(1, n))  # noqa: E731
    tables = {
        "acct": [
            {"id": i, "parent": draw(maybe(n_acct)), "bid": draw(maybe(n_bank))}
            for i in range(1, n_acct + 1)
        ],
        "bank": [{"id": i} for i in range(1, n_bank + 1)],
        "txn": [
            {"rid": i, "tid": draw(st.integers(1, 3)), "aid": draw(maybe(n_acct))}
            for i in range(1, draw(st.integers(0, 7)) + 1)
        ],
    }
    seed_table = draw(st.sampled_from([t for t, rows in tables.items() if rows]))
    ids = [r[_ROW_ID[seed_table]] for r in tables[seed_table]]
    seed_ids = draw(st.sets(st.sampled_from(ids), min_size=1))
    allow = draw(st.sets(st.sampled_from(["acct_fk_parent", "txn_fk_aid"])))
    return tables, seed_table, seed_ids, sorted(allow)


def _closure_bfs(tables, seed_table, seed_ids, allow):
    """The documented semantics as a row-at-a-time BFS: every row follows
    its non-null FKs; reverse FKs fan out from seed rows, and from any
    acct row for the allowlisted names."""
    edges = [
        (t, fk["cols"], fk["ref"], fk["ref_cols"])
        for t, meta in _GRAPH_KEYS.items()
        for fk in meta["fks"]
    ]

    def matches(table, cols, vals):
        if None in vals:
            return []
        return [r for r in tables[table] if [r[c] for c in cols] == vals]

    todo = [
        (seed_table, r, True)
        for r in tables[seed_table]
        if r[_ROW_ID[seed_table]] in seed_ids
    ]
    done, reached = set(), {}
    while todo:
        table, row, seed = todo.pop()
        key = (table, row[_ROW_ID[table]], seed)
        if key in done:
            continue
        done.add(key)
        reached.setdefault(table, set()).add(row[_ROW_ID[table]])
        for child, cols, parent, pcols in edges:
            if child == table:
                hits = matches(parent, pcols, [row[c] for c in cols])
                todo += [(parent, r, False) for r in hits]
            if parent == table and (seed or f"{child}_fk_{cols[0]}" in allow):
                hits = matches(child, cols, [row[c] for c in pcols])
                todo += [(child, r, False) for r in hits]
    return reached


def _accts(*parents):
    return {
        "acct": [{"id": i, "parent": p, "bid": None} for i, p in enumerate(parents, 1)],
        "bank": [{"id": 1}],
        "txn": [],
    }


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(graph=_fk_graphs())
# acct 2 comes twice in round 1: as seed 1's parent and as its child
@example(graph=(_accts(2, 1), "acct", {1}, []))
# round 1 fetches acct 2 by id and acct 3 by parent; acct 2's parent (4)
# is not a seen parent key, so acct 4's fan-out still reaches acct 5
@example(graph=(_accts(2, 4, 1, None, 4), "acct", {1}, ["acct_fk_parent"]))
def test_closure_matches_python_bfs(spark, tmp_path, graph):
    """On random small FK graphs (a self-reference, cycles, null FKs and a
    non-unique-PK table) the closure's per-table row sets equal a
    pure-Python BFS of the documented semantics, and pk_unique tables
    come back without duplicate rows."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mover_spark.catalog import Catalog

    tables, seed_table, seed_ids, allow = graph
    d = tmp_path / uuid.uuid4().hex
    d.mkdir()
    for name, rows in tables.items():
        cols = list(rows[0]) if rows else ["rid", "tid", "aid"]
        pq.write_table(
            pa.table({c: pa.array([r[c] for r in rows], pa.int64()) for c in cols}),
            str(d / f"{name}.parquet"),
        )
    cat = Catalog(spark, str(d), sidecar=_GRAPH_KEYS, register_views=False)
    seed = cat.df(seed_table).where(F.col(_ROW_ID[seed_table]).isin(sorted(seed_ids)))
    cfg = {"acct": SchemaConfig("acct", reference_keys=allow)}
    out = extract_closure(spark, cat, [(seed_table, seed)], cfg)

    got = {}
    for t, df in out.items():
        ids = [r[0] for r in df.select(_ROW_ID[t]).collect()]
        if cat.table(t).pk_unique:
            assert len(ids) == len(set(ids)), (t, ids)
        if ids:
            got[t] = set(ids)
    assert got == _closure_bfs(tables, seed_table, seed_ids, allow)
