"""Source layer tests: encoding-aware CSV dialects, header probe,
fuzzy column resolution, multi-year union with existence pruning,
numeric coercion, and the quarantined external-fetch pattern.
"""

from __future__ import annotations

import os

from hummingbirddatapipeline_spark.sources.csv_dialect import (
    load_csv_standardized,
    load_multi_year,
    probe_header,
    resolve_columns,
)
from hummingbirddatapipeline_spark.sources.external import (
    fetch_enrichment,
    resume_pending,
)


def _write(path: str, text: str, encoding: str = "latin-1") -> None:
    with open(path, "w", encoding=encoding) as f:
        f.write(text)


def test_probe_and_standardize_latin1(spark, tmp_path):
    p = str(tmp_path / "f2023.csv")
    _write(
        p,
        "EIN,Total revenue é,Assets (EOY)\n"
        "012345,\"1,500\",200\n"
        "67890,not_a_number,300\n",
    )
    assert probe_header(spark, p) == ["EIN", "Total revenue é", "Assets (EOY)"]
    out = load_csv_standardized(
        spark,
        p,
        {"EIN": "ein", "Total revenue é": "total_revenue", "Assets (EOY)": "total_assets"},
        numeric_cols=("total_revenue", "total_assets"),
    )
    rows = {r["ein"]: r for r in out.collect()}
    # thousands separators stripped; unparseable -> NULL (to_numeric
    # errors='coerce' parity); latin-1 header round-trips
    assert rows["012345"]["total_revenue"] == 1500.0
    assert rows["67890"]["total_revenue"] is None
    assert rows["67890"]["total_assets"] == 300.0


def test_resolve_columns_fuzzy_with_excludes():
    header = [
        "UNITID",
        "DRVEF2023 Total  enrollment",
        "DRVEF2023 Total enrollment graduate",
        "F2223_F2 Total revenues",
    ]
    got = resolve_columns(
        header,
        searches={
            "unitid": ["unitid"],
            "total_enrollment": ["total", "enrollment"],
            "grad_enrollment": ["enrollment", "graduate"],
            "f2_total_revenues": ["f2", "total revenues"],
        },
        excludes={"total_enrollment": ["graduate"]},
    )
    assert got == {
        "unitid": "UNITID",
        "total_enrollment": "DRVEF2023 Total  enrollment",
        "grad_enrollment": "DRVEF2023 Total enrollment graduate",
        "f2_total_revenues": "F2223_F2 Total revenues",
    }


def test_multi_year_union_prunes_missing_and_bridges_dialects(spark, tmp_path):
    a = str(tmp_path / "y2022.csv")
    b = str(tmp_path / "y2023.csv")
    # 2023 dialect renamed the revenue column and dropped assets
    _write(a, "EIN,Revenue\n1,10\n2,20\n")
    _write(b, "EIN,Rev Total\n1,30\n")
    df = load_multi_year(
        spark,
        {2022: a, 2023: b, 2024: str(tmp_path / "missing.csv")},
        {"EIN": "ein", "Revenue": "total_revenue", "Rev Total": "total_revenue"},
        numeric_cols=("total_revenue",),
    )
    rows = sorted((r["year"], r["ein"], r["total_revenue"]) for r in df.collect())
    assert rows == [(2022, "1", 10.0), (2022, "2", 20.0), (2023, "1", 30.0)]


def test_fetch_enrichment_retries_and_rate(spark):
    work = spark.createDataFrame([("a",), ("b",), ("fail",)], "key string")

    def fake_fetch(key: str) -> str:
        if key == "fail":
            raise RuntimeError("boom")
        return f"payload:{key}"

    out = fetch_enrichment(work, "key", fake_fetch, n_workers=1, max_retries=2)
    got = {r["key"]: (r["status"], r["payload"]) for r in out.collect()}
    assert got["a"] == ("ok", "payload:a")
    assert got["b"] == ("ok", "payload:b")
    assert got["fail"][0] == "retries_exhausted"
    assert "boom" in got["fail"][1]


def test_resume_anti_join(spark):
    work = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    done = spark.createDataFrame([("b",)], "key string")
    left = sorted(r["key"] for r in resume_pending(work, done, "key").collect())
    assert left == ["a", "c"]


def test_versioned_write_and_swap(spark, tmp_path):
    from hummingbirddatapipeline_spark.tables import (
        read_latest_version,
        write_versioned,
    )

    base = str(tmp_path / "master")
    v1 = spark.createDataFrame([(1, "a")], "id int, v string")
    write_versioned(v1, base)
    v2 = spark.createDataFrame([(1, "b")], "id int, v string")
    write_versioned(v2, base)
    latest = read_latest_version(spark, base)
    assert [(r["id"], r["v"]) for r in latest.collect()] == [(1, "b")]
    # previous version untouched and still readable (audit contract)
    old = spark.read.parquet(base + "/v1")
    assert [(r["id"], r["v"]) for r in old.collect()] == [(1, "a")]


def test_year_partitioned_layout_prunes(spark, tmp_path):
    import os

    from hummingbirddatapipeline_spark.tables import write_year_partitioned

    df = spark.createDataFrame(
        [(1, 2023, 10.0), (2, 2024, 20.0)], "id int, year int, v double"
    )
    path = str(tmp_path / "long")
    write_year_partitioned(df, path)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("year=")
    ) == ["year=2023", "year=2024"]
    got = spark.read.parquet(path).filter("year = 2024")
    # partition pruning: the physical plan carries the partition filter
    assert "2024" in got._jdf.queryExecution().executedPlan().toString()
    assert [r["id"] for r in got.collect()] == [2]


def test_scan_fanout_opt_in_gate(spark, sf_dir):
    """r15 optimization: ``load(..., fanout=True)`` round-robins a
    single-row-group scan up to defaultParallelism; the default load
    stays exchange-free; tiny broadcast dims stay single-task even
    when asked; results are row-identical either way."""
    from hummingbirddatapipeline_spark.tables import (
        _FANOUT_FLOOR_BYTES,
        _fanout_partitions,
        load,
    )

    plain = load(spark, sf_dir, "documents")
    fanned = load(spark, sf_dir, "documents", fanout=True)
    p_plain = plain._jdf.queryExecution().executedPlan().toString()
    p_fan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in p_plain
    import os

    doc_path = os.path.join(sf_dir, "documents.parquet")
    expect = _fanout_partitions(spark, doc_path)
    if os.path.getsize(doc_path) >= _FANOUT_FLOOR_BYTES:
        # r16 cost-aware width: byte-scaled (~32 KB/task), floored at
        # _FANOUT_MIN_WIDTH (16), capped at the core count — never the
        # raw core count for a sub-MB file (PERF_r15 anti-scaling finding).
        from hummingbirddatapipeline_spark.tables import (
            _FANOUT_MIN_WIDTH,
            _FANOUT_TARGET_BYTES_PER_TASK,
        )

        cores = spark.sparkContext.defaultParallelism
        assert expect == min(
            cores,
            max(
                _FANOUT_MIN_WIDTH,
                os.path.getsize(doc_path) // _FANOUT_TARGET_BYTES_PER_TASK,
            ),
        )
        assert 0 < expect <= cores
        assert "RoundRobinPartitioning" in p_fan
        # predicate pushdown survives the repartition
        filt = load(spark, sf_dir, "documents", fanout=True).filter(
            "doc_id < 10"
        )
        pf = filt._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)" in pf
    else:  # sf0.001 documents may sit under the floor: gate is a no-op
        assert expect == 0
        assert "RoundRobinPartitioning" not in p_fan
    # identical rows either way
    a = sorted(r["doc_id"] for r in plain.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in fanned.select("doc_id").collect())
    assert a == b
    # broadcast dims never fan out (file under the floor)
    nat = load(spark, sf_dir, "nation", fanout=True)
    assert "RoundRobinPartitioning" not in (
        nat._jdf.queryExecution().executedPlan().toString()
    )


def _job_ids(spark) -> set[int]:
    """Ids of the Spark jobs run so far in this thread's job group."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_load_infers_each_file_schema_once(spark, sf_dir):
    """Every table, ``events`` included: a second ``load`` of the same
    file builds its plan without a Spark job, and the schema it reads
    with is the one a fresh inference gives."""
    from hummingbirddatapipeline_spark.tables import (
        TABLE_NAMES,
        _events_ts_to_nanos,
        _file_record,
        load,
    )

    for name in TABLE_NAMES:
        load(spark, sf_dir, name)
        before = _job_ids(spark)
        df = load(spark, sf_dir, name)
        assert _job_ids(spark) == before, name
        path = os.path.join(sf_dir, f"{name}.parquet")
        fresh = spark.read.parquet(path)
        assert _file_record(spark, path).schema == fresh.schema, name
        if name == "events":
            fresh = _events_ts_to_nanos(fresh)
        assert df.schema == fresh.schema, name


def test_load_infers_again_after_file_rewrite(spark, tmp_path):
    """A table file rewritten with another schema (so another size and
    mtime) is a new identity: its next ``load`` infers again and reads
    the new columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hummingbirddatapipeline_spark.tables import load

    sf, path = str(tmp_path), str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    before = _job_ids(spark)
    load(spark, sf, "region")
    assert _job_ids(spark) == before
    old = os.stat(path)
    pq.write_table(
        pa.table({"r_regionkey": [7], "r_name": ["C"], "r_comment": ["new"]}),
        path,
    )
    assert os.stat(path).st_size != old.st_size
    before = _job_ids(spark)
    df = load(spark, sf, "region")
    assert _job_ids(spark) != before
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(7, "C", "new")]


def test_fanout_width_follows_a_second_tune_for_sf(spark, tmp_path):
    """The fan-out width is recomputed on every call from the file's
    cached facts and the current ``maxPartitionBytes``: a second
    ``tune_for_sf`` that raises the split size turns a file that split
    into core-count tasks (no fan-out) into a one-task scan (fan-out),
    and a third turns it back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hummingbirddatapipeline_spark.session import tune_for_sf
    from hummingbirddatapipeline_spark.tables import (
        _FANOUT_MIN_WIDTH,
        _FANOUT_TARGET_BYTES_PER_TASK,
        _fanout_partitions,
        _parse_bytes,
    )

    cores = spark.sparkContext.defaultParallelism
    chunk = 64 * 1024
    # incompressible rows, a bit over `cores` MB, in 2 * cores + 1 row groups
    n = 16 * cores + 8
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table({"b": [os.urandom(chunk) for _ in range(n)]}),
        path,
        row_group_size=8,
        compression="none",
    )
    size = os.path.getsize(path)
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in confs}

    def split() -> int:
        return _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))

    try:
        tune_for_sf(spark, str(tmp_path))
        assert -(-size // split()) >= cores
        assert _fanout_partitions(spark, path) == 0
        # a sparse pad: tune_for_sf sizes the split by file sizes
        pad = str(tmp_path / "pad.bin")
        with open(pad, "wb") as f:
            f.truncate(4 * cores * size)
        tune_for_sf(spark, str(tmp_path))
        assert split() >= size
        assert _fanout_partitions(spark, path) == min(
            cores, max(_FANOUT_MIN_WIDTH, size // _FANOUT_TARGET_BYTES_PER_TASK)
        )
        assert _fanout_partitions(spark, path, full=True) == cores
        os.remove(pad)
        tune_for_sf(spark, str(tmp_path))
        assert _fanout_partitions(spark, path) == 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_inline_rows_matches_create_dataframe_and_validates(spark):
    """ADVICE r15 hardening: inline_rows equals createDataFrame on the
    supported schema class, raises on arity mismatches and on
    parameterized/nested types instead of silently mis-parsing, and
    falls back to createDataFrame above the literal-size cap."""
    import pytest

    from hummingbirddatapipeline_spark.tables import (
        _INLINE_ROWS_MAX,
        inline_rows,
    )

    rows = [("a", 1), ("b", None), (None, 3)]
    got = inline_rows(spark, rows, "w string, n int")
    exp = spark.createDataFrame(rows, "w string, n int")
    assert got.schema == exp.schema
    key = lambda t: repr(t)  # noqa: E731 — None-safe total order
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )
    with pytest.raises(ValueError, match="3 values for"):
        inline_rows(spark, [("a", 1, 99)], "w string, n int")
    with pytest.raises(ValueError, match="primitivetype"):
        inline_rows(spark, [(1.5,)], "d decimal(10,2)")
    with pytest.raises(ValueError, match="primitivetype"):
        inline_rows(spark, [([1],)], "xs array<int>")
    # above the cap: classic path (plan carries no exploded literal)
    big = [(f"w{i}", i) for i in range(_INLINE_ROWS_MAX + 1)]
    df = inline_rows(spark, big, "w string, n int")
    assert "explode" not in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == len(big)


def test_inline_rows_sql_text_round_trips_awkward_values(spark):
    """inline_rows writes its literal as SQL text: quotes, backslashes,
    newlines, non-ASCII and empty strings, NULLs, negative and 64-bit
    ints, doubles and booleans all collect equal to createDataFrame;
    other value types raise."""
    import datetime

    import pytest

    from hummingbirddatapipeline_spark.tables import inline_rows

    schema = "s string, i int, l long, d double, b boolean"
    rows = [
        ("it's", -7, -(2**63), 0.1, True),
        ("back\\slash \\' mix", 0, 2**62, -1.5e-300, False),
        ("line\nbreak\ttab", 2**31 - 1, -1, 1e300, None),
        ("naïve café ∑ 😀", -(2**31), None, -0.0, True),
        ("", None, 0, float("inf"), False),
        (None, 1, 42, None, None),
        ("X'00' AS s) --", 3, 3, float("-inf"), True),
    ]
    got = inline_rows(spark, rows, schema)
    exp = spark.createDataFrame(rows, schema)
    assert got.columns == exp.columns
    assert [f.dataType for f in got.schema] == [f.dataType for f in exp.schema]
    key = lambda t: repr(t)  # noqa: E731 — None-safe total order
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )
    assert sorted(map(tuple, got.collect()), key=key) == sorted(rows, key=key)
    with pytest.raises(ValueError, match="bool, int, float and str"):
        inline_rows(spark, [(datetime.date(2024, 1, 1),)], "d date")
