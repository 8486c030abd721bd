"""Fixed Spark overhead of an NCD refresh in local mode: listing a table's
district files or partition directories launches no Spark job, and the
codebook (global and lookup) tables are JVM local relations, so writing
them starts no Python worker."""

import zipfile

import pytest
from pyspark.sql import types as T

from national_caseload_data_ingest_spark.catalog import local_catalog
from national_caseload_data_ingest_spark.sources.data_zip import NcdZipLoader
from national_caseload_data_ingest_spark.sources.globals import (
    read_global_tables,
    read_lookup_table,
)
from tests.conftest import (
    GLOBAL_LIONS_TEXT,
    GS_CASE_ROWS,
    GS_COURT_HIST_FLM,
    LOOKUP_TEXT,
    README_TEXT,
)

# More district files per table than Spark's default parallel-listing
# threshold (32), so a default session would list them through a job.
DISTRICTS = [a + b for a in "ABCDE" for b in "ABCDEFGH"]
LISTING_JOB_PREFIX = "Listing leaf files"
JOB_GROUP = "test_ingest_jobs"


def build_many_district_zip(path: str) -> str:
    """The conftest fixture rows, with both normal tables split into one
    file per district of :data:`DISTRICTS`."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("README.TXT", README_TEXT.encode("latin-1"))
        for d in DISTRICTS:
            zf.writestr(
                f"gs_case_{d}.txt",
                ("\r\n".join(GS_CASE_ROWS) + "\r\n").encode("latin-1"),
            )
            zf.writestr(
                f"gs_court_hist_{d}.txt",
                ("\n".join(GS_COURT_HIST_FLM) + "\n").encode("latin-1"),
            )
        zf.writestr("global_LIONS.txt", GLOBAL_LIONS_TEXT.encode("utf-8"))
        zf.writestr("table_gs_position.txt", LOOKUP_TEXT.encode("latin-1"))
    return path


def group_job_descriptions(spark, group: str) -> list[str]:
    """Descriptions of the jobs of ``group`` in the live status store (the
    UI is off); waits for the listener bus to deliver every job event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        job_group = job.jobGroup()
        if job_group.isEmpty() or job_group.get() != group:
            continue
        description = job.description()
        out.append("" if description.isEmpty() else description.get())
    return out


@pytest.fixture(scope="module")
def refresh_jobs(spark, tmp_path_factory):
    """Load the many-district zip and run one full-table aggregate per
    normal table, all under one job group; returns the results and the
    descriptions of the jobs they launched."""
    tmp = tmp_path_factory.mktemp("ingest_jobs")
    zip_path = build_many_district_zip(str(tmp / "ncd_districts.zip"))
    catalog = local_catalog(spark, str(tmp / "warehouse"), db_name="ncd_jobs")
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", JOB_GROUP)
    try:
        names = NcdZipLoader(spark, catalog, zip_path).load()
        counts = {
            table: catalog.table(table)
            .groupBy("filename_district")
            .count()
            .collect()
            for table in ("gs_case", "gs_court_hist")
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", previous)
    return names, counts, group_job_descriptions(spark, JOB_GROUP)


def test_refresh_and_first_query_launch_no_listing_job(refresh_jobs):
    names, counts, descriptions = refresh_jobs
    assert names == [
        "GS_CASE",
        "GS_COURT_HIST",
        "GS_DISTRICT",
        "GS_STATUS",
        "GS_POSITION",
    ]
    for table, per_file in (
        ("gs_case", len(GS_CASE_ROWS)),
        ("gs_court_hist", len(GS_COURT_HIST_FLM)),
    ):
        assert {r["filename_district"]: r["count"] for r in counts[table]} == {
            d: per_file for d in DISTRICTS
        }
    assert descriptions, "the job group caught no jobs"
    listing = [d for d in descriptions if d.startswith(LISTING_JOB_PREFIX)]
    assert listing == []


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_codebooks_are_local_relations_with_the_codebook_schema(spark):
    district = read_global_tables(spark, GLOBAL_LIONS_TEXT)["GS_DISTRICT"]
    name, position = read_lookup_table(spark, LOOKUP_TEXT)
    assert name == "GS_POSITION"
    for df in (district, position):
        assert _optimized_plan(df).startswith("LocalRelation")
    assert district.schema == T.StructType(
        [
            T.StructField("code", T.StringType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("redacted_code", T.BooleanType(), True),
            T.StructField("redacted_name", T.BooleanType(), True),
        ]
    )
    assert position.schema == T.StructType(
        [
            T.StructField("code", T.StringType(), True),
            T.StructField("description", T.StringType(), True),
            T.StructField("active_flag", T.StringType(), True),
            T.StructField("redacted_code", T.BooleanType(), True),
            T.StructField("redacted_description", T.BooleanType(), True),
            T.StructField("redacted_active_flag", T.BooleanType(), True),
        ]
    )
    assert sorted(tuple(r) for r in position.collect()) == [
        ("", "Redacted position", "N", True, False, False),
        ("AG", "Attorney General", "Y", False, False, False),
    ]


def test_header_and_ruler_only_codebook_loads_as_empty_table(spark, tmp_path):
    empty = read_global_tables(
        spark, "GS_EMPTY\n\nCode  Name\n----  --------------------\n"
    )["GS_EMPTY"]
    assert _optimized_plan(empty).startswith("LocalRelation")
    assert [f.name for f in empty.schema.fields] == [
        "code",
        "name",
        "redacted_code",
        "redacted_name",
    ]
    catalog = local_catalog(spark, str(tmp_path), db_name="ncd_empty")
    catalog.write_table("gs_empty", empty)
    loaded = catalog.table("gs_empty")
    assert loaded.count() == 0
    assert [f.dataType for f in loaded.schema.fields] == [
        T.StringType(),
        T.StringType(),
        T.BooleanType(),
        T.BooleanType(),
    ]
