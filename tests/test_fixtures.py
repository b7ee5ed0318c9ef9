"""Fixture-drift guard — run FIRST (filename sorts early with -x).

Round 2 post-mortem: the driver regenerated fixtures between rounds and
events.ts changed parquet physical type (TIMESTAMP(NANOS) ->
timestamp[us]); the loader assumed one vintage and 60/152 registry keys
crashed with cascading AnalysisExceptions. This module turns any future
fixture drift into ONE readable assertion failure instead.

Checks, per table at the test SF:
- file exists and is readable by pyarrow
- every expected column is present
- each column's *Spark-materialized* type is in an admissible set
  (events.ts may be LongType [nanosAsLong] or TimestampNTZ/Timestamp)
- the normalized loader output (io.load_table) has the canonical schema
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_webhooks_spark.io import load_table, table_path

from tests.conftest import SF_DIR, SF_SMOKE

# column -> set of admissible Spark type classes (materialized by the
# plain reader, before io.py normalization)
RAW_ADMISSIBLE = {
    "events": {
        "event_id": (T.LongType,),
        # nanos-vintage reads as Long (nanosAsLong); µs-vintage as (NTZ) timestamp
        "ts": (T.LongType, T.TimestampNTZType, T.TimestampType),
        "user_id": (T.LongType,),
        "event_type": (T.StringType,),
        "value": (T.DoubleType,),
        "props": (T.StringType,),
    },
    "lineitem": {
        "l_orderkey": (T.LongType,),
        "l_quantity": (T.DoubleType, T.DecimalType),
        "l_extendedprice": (T.DoubleType, T.DecimalType),
        "l_discount": (T.DoubleType, T.DecimalType),
        "l_shipdate": (T.DateType, T.TimestampNTZType, T.TimestampType),
    },
    "orders": {
        "o_orderkey": (T.LongType,),
        "o_custkey": (T.LongType,),
        "o_orderdate": (T.DateType, T.TimestampNTZType, T.TimestampType),
    },
    "customer": {"c_custkey": (T.LongType,)},
    "supplier": {"s_suppkey": (T.LongType,)},
    "part": {"p_partkey": (T.LongType,)},
    "nation": {"n_nationkey": (T.IntegerType, T.LongType)},
    "region": {"r_regionkey": (T.IntegerType, T.LongType)},
    "documents": {
        "doc_id": (T.LongType,),
        "text": (T.StringType,),
    },
    "embeddings": {
        "vec_id": (T.LongType,),
        "embedding": (T.ArrayType,),
        "label": (T.IntegerType, T.LongType),
    },
}


@pytest.mark.parametrize("table", sorted(RAW_ADMISSIBLE))
def test_fixture_file_exists(table):
    path = table_path(SF_DIR, table)
    assert os.path.exists(path), (
        f"fixture {path} missing — driver testdata layout changed?"
    )
    # readable by pyarrow (catches corrupt regeneration)
    pq.read_schema(path)


@pytest.mark.parametrize("table", sorted(RAW_ADMISSIBLE))
def test_fixture_schema_admissible(spark, table):
    raw = spark.read.parquet(table_path(SF_DIR, table))
    fields = {f.name: f.dataType for f in raw.schema.fields}
    for col, admissible in RAW_ADMISSIBLE[table].items():
        assert col in fields, (
            f"FIXTURE DRIFT: {table}.{col} missing; columns now {sorted(fields)}"
        )
        assert isinstance(fields[col], admissible), (
            f"FIXTURE DRIFT: {table}.{col} materialized as {fields[col]} — "
            f"admissible: {[a.__name__ for a in admissible]}. "
            "Update io.py loader normalization + this admissible set."
        )


def test_events_loader_normalizes_ts(spark):
    """io.load_table must yield TIMESTAMP_NTZ ts for ANY fixture vintage."""
    ev = load_table(spark, SF_DIR, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType), (
        f"loader produced {ev.schema['ts'].dataType}, want TimestampNTZType"
    )
    # and it must actually compute (analysis exceptions surface here)
    row = ev.selectExpr(
        "min(ts) as lo", "max(ts) as hi", "count(*) as n"
    ).first()
    assert row["n"] > 0
    assert row["lo"] is not None and row["hi"] > row["lo"]


def test_cached_derivation_clears_markerless_partial(tmp_path):
    """ADVICE r8: a crashed derivation leaves a partial dir with NO
    marker; io.derived must clear it so writers without
    mode('overwrite') don't hard-fail on path-already-exists. It also
    builds in a temp sibling, so a failing build leaves no partial
    ``out`` behind."""
    from data_webhooks_spark.io import derived

    out = str(tmp_path / "derived")
    os.makedirs(out)
    with open(f"{out}/garbage.parquet", "w") as f:
        f.write("partial garbage")
    builds = []

    def build(tag):
        def write(d):
            builds.append(tag)
            with open(f"{d}/part-0.parquet", "x") as f:  # no overwrite
                f.write(tag)

        return write

    assert derived(out, "fp1", build("fp1")) == out
    assert builds == ["fp1"], "a markerless dir is no cache hit"
    assert not os.path.exists(f"{out}/garbage.parquet"), (
        "markerless partial dir must be cleared"
    )

    # normal lifecycle still works: derive, commit, hit
    assert derived(out, "fp1", build("again")) == out
    assert builds == ["fp1"]
    # fingerprint mismatch clears as before
    assert derived(out, "fp2", build("fp2")) == out
    assert builds == ["fp1", "fp2"]
    with open(f"{out}/part-0.parquet") as f:
        assert f.read() == "fp2"

    # a build that fails leaves the last complete out and no temp dir
    def crash(d):
        with open(f"{d}/part-0.parquet", "w") as f:
            f.write("half")
        raise RuntimeError("injected")

    with pytest.raises(RuntimeError):
        derived(out, "fp3", crash)
    assert os.listdir(tmp_path) == ["derived"]
    assert derived(out, "fp2", build("fp2 again")) == out
    assert builds == ["fp1", "fp2"]


def test_derived_artifacts_follow_their_fixture_not_its_basename(spark, tmp_path):
    """Two fixture dirs with one basename but different customer and
    embeddings tables: scan_orc's ORC copy and the IVF-PQ codes must
    each come from their own fixture. Both were once cached under the
    basename alone, and the second dir was served the first one's
    rows."""
    import shutil
    import uuid

    from data_webhooks_spark import registry
    from data_webhooks_spark.operators.similarity import _ivfpq_index
    from data_webhooks_spark.oracle import compare_frames, duck_connect
    from data_webhooks_spark.schemas import TABLE_NAMES
    from data_webhooks_spark.sources.derived import DERIVED_DIR
    from data_webhooks_spark.streaming.core import RUNTIME_DIR

    name = f"sfclone_{uuid.uuid4().hex[:8]}"
    full, small = str(tmp_path / "a" / name), str(tmp_path / "b" / name)
    for d in (full, small):
        os.makedirs(d)
        for t in TABLE_NAMES:
            os.symlink(table_path(SF_SMOKE, t), table_path(d, t))
    for t, n in (("customer", 5), ("embeddings", 40)):
        os.unlink(table_path(small, t))
        pq.write_table(
            pq.read_table(table_path(SF_SMOKE, t)).slice(0, n), table_path(small, t)
        )
    scan_orc = registry.queries()["scan_orc"]
    try:
        for d in (full, small):
            got = scan_orc(spark, d).toPandas()
            con = duck_connect(d)
            try:
                want = con.execute(registry.oracle_sql()["scan_orc"]).df()
            finally:
                con.close()
            assert not compare_frames(got, want), d
            n_vectors = pq.ParquetFile(table_path(d, "embeddings")).metadata.num_rows
            codes = _ivfpq_index(spark, d)[2]
            assert spark.read.parquet(codes).count() == n_vectors, d
    finally:
        shutil.rmtree(f"{DERIVED_DIR}/{name}", ignore_errors=True)
        shutil.rmtree(f"{RUNTIME_DIR}/ivfpq/{name}", ignore_errors=True)


def test_schema_memo_misses_on_rewrite(spark, tmp_path):
    """A table rewritten in place with another schema (new mtime) must
    not be read with the schema memoized for the old file."""
    import pyarrow as pa

    path = table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"
    ]
    pq.write_table(pa.table({"r_regionkey": [3], "r_comment": [0.5]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert df.collect() == [(3, 0.5)]


def test_events_ts_follows_nanos_as_long(spark, tmp_path):
    """On a TIMESTAMP(NANOS) clone of events the inferred ts type
    depends on spark.sql.legacy.parquet.nanosAsLong; flipping it must
    miss the schema memo, not reuse the LongType schema."""
    import pyarrow as pa
    from pyspark.errors import AnalysisException

    src = pq.read_table(table_path(SF_DIR, "events"))
    i = src.schema.get_field_index("ts")
    nanos = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, table_path(str(tmp_path), "events"), version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        ev = load_table(spark, str(tmp_path), "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
        want = load_table(spark, SF_DIR, "events").agg({"ts": "max"}).first()
        assert ev.agg({"ts": "max"}).first() == want
        spark.conf.set(key, "false")
        # Spark cannot read TIMESTAMP(NANOS) without nanosAsLong
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(key, prev)
