"""Star-schema ingest tests: idempotency (the reference's core guarantee),
hash-key goldens recomputed by recipe, FK data-quality checks
(Data_Schema.md:374-423), and the partitioned-fact variant."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mrf_etl_spark.plans.ingest import IngestConfig, ingest_batch
from tests.fixtures import make_raw_frames


@pytest.fixture(scope="module")
def lake(spark):
    d = tempfile.mkdtemp(prefix="mrf_lake_")
    rates, prov = make_raw_frames(spark)
    counts1 = ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))
    yield d, counts1, rates, prov
    shutil.rmtree(d, ignore_errors=True)


def test_ingest_idempotent(spark, lake):
    d, counts1, rates, prov = lake
    counts2 = ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))
    assert counts1 == counts2  # re-running the same batch is a no-op
    assert counts1["fact_rate"] > 0
    assert counts1["dim_payer"] >= 1


def test_fact_uid_recipe_golden(spark, lake):
    d, *_ = lake
    fact = spark.read.parquet(f"{d}/fact_rate")
    row = fact.filter(F.col("negotiated_rate").isNotNull()).orderBy("fact_uid").first()

    def co(x):
        return "" if x is None else str(x)

    parts = [
        co(row.state), co(row.year_month), co(row.payer_slug),
        co(row.billing_class), co(row.code_type), co(row.code),
        co(row.pg_uid), co(row.pos_set_id), co(row.negotiated_type),
        co(row.negotiation_arrangement), co(row.expiration_date),
        f"{row.negotiated_rate:.4f}", co(row.provider_group_id_raw),
    ]
    expected = hashlib.md5("|".join(parts).encode()).hexdigest()
    assert row.fact_uid == expected


def test_fk_quality_checks(spark, lake):
    d, *_ = lake
    fact = spark.read.parquet(f"{d}/fact_rate")
    dim_code = spark.read.parquet(f"{d}/dim_code")
    dim_pos = spark.read.parquet(f"{d}/dim_pos_set")
    xref_npi = spark.read.parquet(f"{d}/xref_pg_member_npi")

    # every fact (code_type, code) resolves in dim_code
    orphans = fact.join(dim_code, ["code_type", "code"], "left_anti").count()
    assert orphans == 0
    # every fact pos_set_id resolves
    assert fact.join(dim_pos, ["pos_set_id"], "left_anti").count() == 0
    # most fact rows resolve to >=1 NPI via the xref (coverage check)
    covered = fact.join(xref_npi, ["pg_uid"], "left_semi").count()
    assert covered / fact.count() > 0.7


def test_year_month_and_slug_values(spark, lake):
    d, *_ = lake
    fact = spark.read.parquet(f"{d}/fact_rate")
    yms = {r.year_month for r in fact.select("year_month").distinct().collect()}
    # regex semantics: "202508" (no separator) yields "", others "2025-08"
    assert yms == {"2025-08", ""}
    slugs = {r.payer_slug for r in fact.select("payer_slug").distinct().collect()}
    assert slugs == {"aetna-life-insurance-company"}


def test_partitioned_fact_variant(spark):
    rates, prov = make_raw_frames(spark)
    d = tempfile.mkdtemp(prefix="mrf_lake_part_")
    try:
        cfg = IngestConfig(state="GA")
        counts = ingest_batch(spark, rates, prov, d, cfg, partitioned_fact=True)
        fact = spark.read.parquet(f"{d}/fact_rate")
        assert counts["fact_rate"] == fact.count()
        # partition columns survive the hive layout
        assert {"state", "year_month", "payer_slug"} <= set(fact.columns)
        # dynamic overwrite: re-writing the same batch keeps counts stable
        counts2 = ingest_batch(spark, rates, prov, d, cfg, partitioned_fact=True)
        assert counts2["fact_rate"] == counts["fact_rate"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_unique_delta_mode(spark, tmp_path):
    """rewrite=False appends only the anti-joined delta (O(new), no table
    rewrite) and stays idempotent."""
    from pyspark.sql import functions as F

    from mrf_etl_spark.io import append_unique

    path = str(tmp_path / "tbl")
    base = spark.range(100).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    append_unique(spark, base, path, keys=["k"])
    files_before = {f.name for f in (tmp_path / "tbl").glob("part-*")}

    delta = spark.range(80, 150).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    append_unique(spark, delta, path, keys=["k"], rewrite=False)
    out = spark.read.parquet(path)
    assert out.count() == 150  # 100 kept + 50 new (80-99 deduped away)
    assert out.filter(F.col("k") < 80).filter(F.col("v") == "b").count() == 0
    # original files untouched (append, not rewrite)
    assert files_before <= {f.name for f in (tmp_path / "tbl").glob("part-*")}

    # idempotent: re-appending the same delta adds nothing
    append_unique(spark, delta, path, keys=["k"], rewrite=False)
    assert spark.read.parquet(path).count() == 150


def test_quality_report_counts_injected_violations(spark):
    from mrf_etl_spark.plans.quality import (
        fk_check,
        null_check,
        quality_report,
        range_check,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,), (20,)], "pk long")
    vals = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 500.0)], "id long, v double"
    )
    rep = {
        r.check: (r.n_bad, r.n_total, r.bad_rate)
        for r in quality_report(
            [
                fk_check(child, parent, "fk", "fk", "pk"),
                null_check(vals, "nulls", "v"),
                range_check(vals, "range", "v", 0, 100),
            ]
        ).collect()
    }
    assert rep["fk"] == (2, 4, 0.5)  # 99 unmatched + null fk
    assert rep["nulls"] == (1, 3, 1 / 3)
    assert rep["range"] == (2, 3, 2 / 3)  # null + 500 out of range


def test_dataset_diff_statuses_and_null_content(spark):
    """q8's core: every id in either release appears exactly once with
    the right status; NULL content hashes as '' (so NULL == '' counts
    as unchanged — the documented hashing.py uid discipline); keep
    columns ride through prefixed."""
    from mrf_etl_spark.plans.quality import dataset_diff

    a = spark.createDataFrame(
        [(1, "x", "s1"), (2, "y", "s1"), (3, "z", "s2"), (5, None, "s2")],
        "id long, body string, src string",
    )
    b = spark.createDataFrame(
        [(1, "x", "s1"), (2, "Y", "s1"), (4, "new", "s2"), (5, "", "s2")],
        "id long, body string, src string",
    )
    rows = {
        r.id: r
        for r in dataset_diff(a, b, "id", ["body"], keep=("src",)).collect()
    }
    assert {k: v.status for k, v in rows.items()} == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "unchanged",  # NULL and '' hash identically by design
    }
    assert rows[3].a_src == "s2" and rows[3].b_src is None
    assert rows[4].b_src == "s2" and rows[4].a_src is None


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from mrf_etl_spark.io.writers import compact_parquet

    path = str(tmp_path / "lake")
    src = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    src.repartition(8).write.parquet(path)
    assert len(glob.glob(f"{path}/*.parquet")) == 8
    n_out = compact_parquet(spark, path, target_bytes=1 << 30)
    assert n_out == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    after = spark.read.parquet(path)
    assert after.count() == 10_000
    assert after.agg(F.sum("v")).collect()[0][0] == src.agg(F.sum("v")).collect()[0][0]


def test_table_writes_inherit_caller_job_group(spark, lake):
    """Every job of ingest_batch's concurrent table writes carries the
    caller's job group (local properties reach the write threads), and
    the thread wrapping raises no 'Tags will not be inherited' warning."""
    import time
    import warnings

    d, counts1, rates, prov = lake
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        deadline = time.monotonic() + 30
        while not (ids := tracker.getJobIdsForGroup(group)) and time.monotonic() < deadline:
            time.sleep(0.05)  # the status store is fed asynchronously
        return ids

    try:
        first = max(probe("ingest-before")) + 1
        sc.setJobGroup("ingest-under-test", "ingest-under-test")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert ingest_batch(spark, rates, prov, d, IngestConfig(state="GA")) == counts1
        last = min(probe("ingest-after")) - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    jobs = set(tracker.getJobIdsForGroup("ingest-under-test"))
    assert jobs and jobs == set(range(first, last + 1))


def test_failed_table_write_reraises_after_siblings_finish(spark, lake, monkeypatch):
    """One table's write fails: ingest_batch re-raises it only after the
    sibling writes have finished (no lock dir or thread outlives the
    call), and a clean re-run into the same lake repairs it to the counts
    of a fresh run."""
    import glob
    import threading

    import mrf_etl_spark.plans.ingest as ingest_mod

    _, counts1, rates, prov = lake
    real = ingest_mod.append_unique

    def failing(spark, df, path, **kw):
        if path.endswith("/dim_payer"):
            raise RuntimeError("dim_payer write failed")
        return real(spark, df, path, **kw)

    d = tempfile.mkdtemp(prefix="mrf_lake_fail_")
    try:
        threads_before = set(threading.enumerate())
        monkeypatch.setattr(ingest_mod, "append_unique", failing)
        with pytest.raises(RuntimeError, match="dim_payer write failed"):
            ingest_batch(spark, rates, prov, d, IngestConfig(state="GA"))
        monkeypatch.undo()
        assert glob.glob(f"{d}/*.lock") == []
        assert set(threading.enumerate()) <= threads_before
        assert glob.glob(f"{d}/dim_payer*") == []
        # the siblings committed before the failure surfaced
        assert spark.read.parquet(f"{d}/fact_rate").count() == counts1["fact_rate"]
        assert ingest_batch(spark, rates, prov, d, IngestConfig(state="GA")) == counts1
    finally:
        shutil.rmtree(d, ignore_errors=True)
