"""``flinkrunner_spark.tables.load_table``, the one reader of the input
tables: each table's Parquet schema is inferred once per session (a
Spark job of its own), and every read still builds a fresh relation.
``load_spread`` is the same read, hash-spread over every core when the
table has fewer row groups than ``defaultParallelism``."""

from __future__ import annotations

import ast
import contextlib
import io
import itertools
import json
import os
import re
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE as SF

from flinkrunner_spark import memo
from flinkrunner_spark.plans import analytics, docstreams
from flinkrunner_spark.tables import load_spread, load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "flinkrunner_spark")
LLM = os.path.join(PKG, "llm")


_TAGS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started). The jobs are counted by a
    job tag, so a query another test left running does not add to them."""
    sc = spark.sparkContext
    tag = f"test-tables-{next(_TAGS)}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


@pytest.fixture
def sf_copy(tmp_path):
    """A private copy of the smoke ``orders`` table, so the schema memo
    starts empty whatever ran earlier in the session."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(f"{SF}/orders.parquet", d)
    yield d
    memo.release("tables", d)


def test_second_read_starts_no_job(spark, sf_copy):
    first, n1 = _jobs(spark, lambda: load_table(spark, sf_copy, "orders"))
    again, n2 = _jobs(spark, lambda: load_table(spark, sf_copy, "orders"))
    assert (n1, n2) == (1, 0)
    assert again.schema == first.schema
    assert again.count() == first.count() == pq.read_metadata(
        f"{sf_copy}/orders.parquet"
    ).num_rows


def test_each_read_is_a_fresh_relation(spark, sf_copy):
    a = load_table(spark, sf_copy, "orders")
    b = load_table(spark, sf_copy, "orders")
    # the attributes print with their ids, e.g. ``o_orderkey#12L``
    out_a, out_b = (
        df._jdf.queryExecution().analyzed().output().toString() for df in (a, b)
    )
    assert out_a != out_b
    # so the self-join resolves each side instead of being ambiguous
    joined = a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(a["o_orderkey"])
    assert joined.count() == a.count()


def test_release_infers_again(spark, sf_copy):
    _, n1 = _jobs(spark, lambda: load_table(spark, sf_copy, "orders"))
    assert memo.entries("tables.schema", sf_copy)
    memo.release("tables", sf_copy)
    assert not memo.entries("tables.schema", sf_copy)
    _, n2 = _jobs(spark, lambda: load_table(spark, sf_copy, "orders"))
    assert (n1, n2) == (1, 1)


def test_new_application_infers_again(sf_copy):
    """A stopped session's schemas go with it: the next application in
    the same process infers each table again."""
    prog = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from flinkrunner_spark import get_spark
        from flinkrunner_spark.tables import load_table

        def jobs(spark):
            sc = spark.sparkContext._jsc.sc()
            n = []
            for _ in range(2):
                j0 = sc.dagScheduler().nextJobId()
                load_table(spark, {sf_copy!r}, "orders")
                n.append(sc.dagScheduler().nextJobId() - j0)
            return n

        out = []
        for _ in range(2):
            spark = get_spark("tables-new-app", cpus=1)
            out.append(jobs(spark))
            spark.stop()
        print(json.dumps(out))
        """
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    res = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True,
        env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) == [[1, 0], [1, 0]]


def test_events_read_needs_no_prior_conf(spark, tmp_path):
    """``pivot_events`` on a TIMESTAMP(NANOS) events file must not depend
    on an earlier ``load_table("events")`` having set ``nanosAsLong``."""
    d = str(tmp_path / "sf")
    os.makedirs(d)
    t = pq.read_table(f"{SF}/events.parquet")
    ts = t.schema.get_field_index("ts")
    pq.write_table(
        t.set_column(ts, "ts", t["ts"].cast(pa.timestamp("ns"))),
        f"{d}/events.parquet",
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = analytics.pivot_events(spark, d).toPandas()
        got_ts = load_table(spark, d, "events").select("event_id", "ts").toPandas()
    finally:
        spark.conf.set(conf, before)
        memo.release("tables", d)
    want = analytics.pivot_events(spark, SF).toPandas()
    want_ts = load_table(spark, SF, "events").select("event_id", "ts").toPandas()

    def rows(pdf, key):
        return pdf.sort_values(key).reset_index(drop=True)

    assert rows(got, "user_id").equals(rows(want, "user_id"))
    # the nanos column reads back as the same micros timestamps
    assert rows(got_ts, "event_id").equals(rows(want_ts, "event_id"))


@pytest.mark.parametrize(
    "stream, table",
    [
        (docstreams.stream_documents, "documents"),
        (docstreams.stream_embeddings, "embeddings"),
    ],
)
def test_file_stream_schema_matches_its_copy(spark, stream, table):
    """The document/embedding streams take their schema from
    ``load_table``; it must be the schema the /tmp copy was written
    with."""
    df = stream(spark, SF, splits=4)
    source = df._jdf.queryExecution().analyzed().dataSource()
    copy = source.options().get("path").get()
    assert df.schema == spark.read.parquet(copy).schema
    assert df.schema == load_table(spark, SF, table).schema


@pytest.fixture
def docs_copies(spark, tmp_path):
    """Two private copies of the smoke ``documents`` table: ``one`` as a
    single row group, ``many`` with twice ``defaultParallelism`` row
    groups. Private, so the memo starts empty whatever ran earlier."""
    t = pq.read_table(f"{SF}/documents.parquet")
    n = spark.sparkContext.defaultParallelism
    dirs = {"one": str(tmp_path / "one"), "many": str(tmp_path / "many")}
    for d in dirs.values():
        os.makedirs(d)
    pq.write_table(t, f"{dirs['one']}/documents.parquet")
    pq.write_table(
        t, f"{dirs['many']}/documents.parquet",
        row_group_size=-(-t.num_rows // (2 * n)),
    )
    assert pq.read_metadata(f"{dirs['one']}/documents.parquet").num_row_groups == 1
    assert pq.read_metadata(f"{dirs['many']}/documents.parquet").num_row_groups >= n
    yield dirs
    for d in dirs.values():
        memo.release("tables", d)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    """``explain("formatted")``, which holds the scan's ``ReadSchema`` and
    ``PushedFilters`` (the executed plan's string does not)."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        df.explain("formatted")
    return out.getvalue()


def test_spread_single_row_group(spark, docs_copies):
    """One row group scans in one task; the spread reads it as
    ``defaultParallelism`` partitions behind one hash exchange on the
    key, and the rows are the plain read's."""
    n = spark.sparkContext.defaultParallelism
    df = load_spread(spark, docs_copies["one"], "documents", "doc_id")
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert re.search(rf"hashpartitioning\(doc_id#\d+L?, {n}\)", plan), plan
    assert df.rdd.getNumPartitions() == n
    plain = load_table(spark, docs_copies["one"], "documents")
    assert plain.rdd.getNumPartitions() == 1
    assert sorted(df.collect()) == sorted(plain.collect())


def test_spread_leaves_split_scans_alone(spark, docs_copies):
    df = load_spread(spark, docs_copies["many"], "documents", "doc_id")
    assert "Exchange" not in _plan(df)
    assert memo.entries("tables.row_groups", docs_copies["many"])


def test_spread_repeat_read_starts_no_job(spark, docs_copies):
    """The first read infers the schema (one job) and counts the row
    groups from the footers on the driver (no job); a repeat read starts
    none."""
    d = docs_copies["one"]
    _, n1 = _jobs(spark, lambda: load_spread(spark, d, "documents", "doc_id"))
    _, n2 = _jobs(spark, lambda: load_spread(spark, d, "documents", "doc_id"))
    assert (n1, n2) == (1, 0)


def test_spread_keeps_pruning_and_pushdown(spark, docs_copies):
    """The hash exchange sits above the scan: the scan reads only the
    columns the query uses, and a filter on the key is pushed into it."""
    df = (
        load_spread(spark, docs_copies["one"], "documents", "doc_id")
        .filter("doc_id = 7")
        .select("doc_id", "text")
    )
    text = _formatted(df)
    assert "hashpartitioning(doc_id" in text
    (schema,) = re.findall(r"ReadSchema: struct<(.*)>", text)
    assert [c.split(":")[0] for c in schema.split(",")] == ["doc_id", "text"]
    (pushed,) = re.findall(r"PushedFilters: \[(.*)\]", text)
    assert "EqualTo(doc_id,7)" in pushed


def _direct_table_reads(path: str) -> list[int]:
    """Line numbers of ``<x>.read.parquet(f"{sf_dir}/...")`` calls."""
    with open(path) as f:
        tree = ast.parse(f.read())
    hits = []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "read"
            and n.args
            and isinstance(n.args[0], ast.JoinedStr)
        ):
            continue
        head = n.args[0].values[0]
        if (
            isinstance(head, ast.FormattedValue)
            and isinstance(head.value, ast.Name)
            and head.value.id == "sf_dir"
        ):
            hits.append(n.lineno)
    return hits


def test_no_direct_table_reads():
    """Every read of an input table goes through ``tables.load_table``,
    so none pays schema inference twice or misses the events fix-up."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != os.path.join(PKG, "tables.py"):
                rel = os.path.relpath(path, REPO)
                hits += [f"{rel}:{line}" for line in _direct_table_reads(path)]
    assert not hits, f"{len(hits)} direct table reads: {hits}"


def _spread_by_hand(path: str) -> list[int]:
    """Line numbers of ``load_table(...).repartition(...)`` chains."""
    with open(path) as f:
        tree = ast.parse(f.read())
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "repartition"
        and isinstance(n.func.value, ast.Call)
        and isinstance(n.func.value.func, ast.Name)
        and n.func.value.func.id == "load_table"
    ]


def test_no_ad_hoc_spreads():
    """An LLM operator that needs its corpus on every core reads it with
    ``tables.load_spread``, which adds no exchange when the scan already
    has the splits; a repartition straight after ``load_table`` would
    add one at any scale."""
    hits = []
    for root, _dirs, files in os.walk(LLM):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, REPO)
                hits += [f"{rel}:{line}" for line in _spread_by_hand(path)]
    assert not hits, f"{len(hits)} ad hoc spreads: {hits}"
