# Sample Airflow DAG: orchestrating the graft Spark engine the way the
# reference pipeline was orchestrated (BASELINE.json: "Spark jobs
# orchestrated by Airflow for extract/transform/load").
#
# The reference implements probe/extract/validate/transform/load as seven
# Python tasks passing CSVs through XCom (reference:
# dags/music_streaming_services_dag.py:447-455). Here the entire data path
# is ONE Spark job (graft.PipelineMain); Airflow keeps only control flow:
# schedule, retry, and branching on the job's exit code (3 = no input,
# 4 = schema validation failure — the two end_dag branches of the
# reference's DAG).
#
# Illustrative only in this repo (no Airflow runtime in the build
# environment); the engine itself is the Scala library under src/.
from datetime import datetime, timedelta

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)

default_args = {
    "owner": "data-eng",
    "retries": 2,  # the reference's own test policy asks for >= 2
    "retry_delay": timedelta(minutes=5),
}

with DAG(
    dag_id="music_streaming_etl_spark",
    schedule=timedelta(days=1),
    start_date=datetime(2024, 6, 1),
    catchup=False,
    default_args=default_args,
    tags=["music-streaming", "spark"],
) as dag:
    # One Spark job replaces the reference's extract/validate/transform/load
    # task chain; idempotent date-partitioned overwrite makes retries and
    # backfills safe (no Redshift COPY append duplicates).
    run_pipeline = SparkSubmitOperator(
        task_id="run_music_streaming_pipeline",
        application="graft-assembly.jar",
        java_class="graft.PipelineMain",
        name="graft-music-streaming-etl",
        application_args=[
            "s3a://streaming-data-bucket/batches/*.csv",
            "s3a://dims/users.csv",
            "s3a://dims/songs.csv",
            "s3a://kpi-warehouse/",
        ],
        # Both confs are already the job's defaults (HarnessSession sets
        # the UTC session zone; AQE is on by Spark's default), stated here
        # for the reader. Any conf passed here wins over HarnessSession's
        # defaults, e.g. spark.sql.shuffle.partitions on a cluster.
        conf={
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.adaptive.enabled": "true",
        },
    )
