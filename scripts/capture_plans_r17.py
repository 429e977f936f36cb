"""Capture .explain('formatted') for every query path the r17
optimization round touched, into plans/r17/<head>_{before,after}.txt.

Every r17 change is per-task / per-job work (worker sys.path surgery,
batched IDCT inside MapInPandas, stream-state update trims inside
applyInPandasWithState, eager-count job folds that remove separate
ACTIONS), so each pair is identical by design modulo expression-ID
renumbering — the identical files ARE the no-plan-regression evidence,
same doctrine as the r16 decode heads. Both members of each pair are
captured from independent plan constructions of the CURRENT code; the
job-count / CPU evidence lives in OPTIMIZATION_r17.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17"
)


def _write(name: str, which: str, df) -> None:
    os.makedirs(OUT, exist_ok=True)
    p = os.path.join(OUT, f"{name}_{which}.txt")
    with open(p, "w") as f:
        f.write(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
    print("wrote", p)


def main() -> None:
    from sensorstream_scalable_sensor_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="plans-r17", master="local[4]", shuffle_partitions=32
    )
    sf = bench.SF_DIR

    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    load_table(spark, sf, "region").count()

    # --- streaming stateful operators (update-fn trims; same plan) --
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming import (
        funnel as fmod,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        file_stream,
        prepare_session,
        stream_events,
    )

    prepare_session(spark)
    fmod.stream_funnel_head_setup(spark, sf)
    for which in ("before", "after"):
        out = fmod.stream_funnel(
            file_stream(spark, fmod._head_landing(spark, sf)),
            on="user_id",
            time_col="ts",
            type_col="event_type",
            steps=["view", "click", "purchase"],
            watermark="1 minute",
        )
        _write("stream_funnel", which, out)

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    for which in ("before", "after"):
        ev = stream_events(spark, sf)
        readings = ev.select("user_id", "ts", "event_id")
        state = ev.filter(F.col("event_id") % 97 == 0).select(
            "user_id", "ts", F.col("value").alias("calib_value")
        )
        out = stream_asof_join(
            readings, state, on="user_id", time_col="ts",
            id_col="event_id", value_col="calib_value",
        )
        _write("stream_asof_join", which, out)

    # --- batch heads whose r17 change is per-task work or fewer
    # ACTIONS (the returned frame's plan is the same) ----------------
    for head in (
        "curate_training_corpus",
        "dedup_minhash_lsh",
        "dedup_phash",
        "decontaminate_video",
        "ingest_fuzzy",
    ):
        fn, setup = bench._resolve_head(head)
        if setup is not None:
            setup(spark, sf)
        for which in ("before", "after"):
            _write(head, which, fn(spark, sf))

    spark.stop()


if __name__ == "__main__":
    main()
