"""The micro-batch run shared by the foreachBatch streaming pipelines.

`run_micro_batches` owns the protocol (PID-scoped namespace, fresh start
or checked resume, narrowed shuffle width, availableNow file stream);
each pipeline supplies its source writer and its per-batch body.

`write_id_range_batches` fabricates a reproducible arrival order from a
static table for the pipelines whose semantics depend on WHICH batch a
row lands in (keep-first dedup, a quantizer trained on the first
batch). ``repartitionByRange`` samples its boundaries with a random
seed, hence explicit percentile cuts and pinned file mtimes. In
production the batches are real arrivals (Kafka offsets, object-store
listings).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_id_range_batches(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    run_ns: str,
    src: str,
    n_batches: int,
) -> None:
    """Write *df* (projected to *cols*) as ``n_batches`` single-file
    parquet batches of contiguous ascending *id_col* ranges under
    *src*, with strictly increasing mtimes so a
    ``maxFilesPerTrigger=1`` file stream delivers them in id order.
    Ids must be non-null. percentile_approx boundaries are
    deterministic for the same input; empty input degrades to one
    empty batch."""
    cuts = (
        df.select(
            F.percentile_approx(
                id_col,
                [i / n_batches for i in range(1, n_batches)],
                10000,
            ).alias("b")
        ).head()[0]
        if n_batches > 1
        else []
    )
    # percentile over zero rows is NULL → deliver one empty batch
    edges = [None, *(cuts or []), None]
    os.makedirs(src, exist_ok=True)
    base_mtime = os.stat(run_ns).st_mtime
    for i in range(len(edges) - 1):
        part = df.select(*cols)
        if edges[i] is not None:
            part = part.filter(F.col(id_col) > edges[i])
        if edges[i + 1] is not None:
            part = part.filter(F.col(id_col) <= edges[i + 1])
        build = os.path.join(run_ns, f"srcbuild_{i}")
        part.coalesce(1).write.parquet(build)
        pf = next(
            f for f in sorted(os.listdir(build)) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"batch_{i:04d}.parquet")
        os.replace(os.path.join(build, pf), dst)
        shutil.rmtree(build, ignore_errors=True)
        os.utime(dst, (base_mtime + i, base_mtime + i))


@contextmanager
def narrowed_shuffle(
    spark: SparkSession, extra_conf: dict[str, str] | None = None
) -> Iterator[None]:
    """Run the body with ``spark.sql.shuffle.partitions`` narrowed to
    ``min(4, defaultParallelism)`` and *extra_conf* set, restoring every
    prior value on exit, failures included. Each shuffle partition of a
    one-shot streaming run costs a state-store commit or a tiny task per
    microbatch, so a narrow width is cheaper (BASELINE.md "Streaming
    shuffle width")."""
    conf = {
        "spark.sql.shuffle.partitions": str(
            min(4, spark.sparkContext.defaultParallelism)
        ),
        **(extra_conf or {}),
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def stream_namespace(base_dir: str, name: str) -> str:
    """``{base_dir}/stream_{name}_{pid}``, the working root of one
    pipeline run. PID-scoped because a streaming checkpoint is fatally
    corrupted if another process rmtree's it mid-run (seen as "ckpt/
    commits does not exist" when two harnesses share a scratch root)."""
    return os.path.join(base_dir, f"stream_{name}_{os.getpid()}")


def run_micro_batches(
    spark: SparkSession,
    run_ns: str,
    write_source: Callable[[str], None],
    process_batch: Callable[[DataFrame, int], None],
    *,
    caller: str,
    resume: bool = False,
    on_batch_complete: Callable[[int], None] | None = None,
    extra_conf: dict[str, str] | None = None,
) -> None:
    """Drain ``{run_ns}/src`` through ``process_batch(batch, batch_id)``
    as a one-file-per-trigger parquet stream with ``availableNow``,
    checkpointed under ``{run_ns}/ckpt``. A fresh run empties *run_ns*
    and calls ``write_source(src)``; the stores left under *run_ns*
    outlive the call, since the pipelines return lazy reads of them.

    ``resume=True`` restarts an interrupted run against its existing
    source, stores and checkpoint (``ValueError`` naming *caller* if
    there is none): the engine redelivers every batch whose body ran
    without the commit landing, so bodies must overwrite, not append.
    ``on_batch_complete(batch_id)`` runs after each body, before the
    engine commit (telemetry, or the injected-crash point in tests)."""
    src = os.path.join(run_ns, "src")
    if resume:
        if not os.path.isdir(src):
            raise ValueError(
                f"{caller}: resume=True but no prior run at {run_ns}"
            )
    else:
        shutil.rmtree(run_ns, ignore_errors=True)
        os.makedirs(run_ns)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        process_batch(batch, batch_id)
        if on_batch_complete is not None:
            on_batch_complete(batch_id)

    # the conf guard opens before the source write: setup runs under the
    # narrowed width too, and a failure there must not leak it
    with narrowed_shuffle(spark, extra_conf):
        if not resume:
            write_source(src)
        (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(run_ns, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
