"""Single-writer lease on the path-based persistent stores (r16).

The round-open race probe on pre-lease code: two barrier-released
append_fingerprints of the same 100-row increment left **197 rows** —
duplicates from the double-commit AND rows LOST outright, because
both jobs share `path/_temporary` and one FileOutputCommitter's
cleanup deletes the other's in-flight task files. Not just growth:
silent data loss. The enforcement is a POSIX flock on a sibling
`<path>.__lease` file (sources.parquet.store_writer_lease) —
kernel-owned, so a crashed writer's lease releases with its process
(no stale-TTL takeover machinery), and it conflicts between two open
descriptions even within one process, so two threads of one driver
serialize the same as two drivers.

Covered here: the lease primitive, every wired mutator failing loudly
under a held lease (store untouched), the barrier-released torture
race ending in a CLEAN state either way, release-on-completion,
release-on-process-death, and the remote-URI documented-contract
degrade.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from data_engineering_hs_spark.sources.parquet import (
    ConcurrentWriterError,
    _lease_file,
    store_writer_lease,
)


def _fp_increment(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("fingerprint")
    )


class TestLeasePrimitive:
    def test_second_acquire_raises_with_holder_info(self, tmp_path):
        store = str(tmp_path / "s")
        with store_writer_lease(store, "first-op"):
            with pytest.raises(ConcurrentWriterError, match="first-op"):
                with store_writer_lease(store, "second-op"):
                    pass  # pragma: no cover

    def test_release_on_exit_and_on_error(self, tmp_path):
        store = str(tmp_path / "s")
        with store_writer_lease(store, "op"):
            pass
        with pytest.raises(RuntimeError, match="body"):
            with store_writer_lease(store, "op"):
                raise RuntimeError("body")
        # both exits released the lock
        with store_writer_lease(store, "op"):
            pass

    def test_lease_file_is_a_sibling_not_inside_the_store(
        self, tmp_path
    ):
        # the swap family RENAMES the store directory; a lease inside
        # it would travel with the park rename and leave the live
        # path unguarded mid-swap
        store = str(tmp_path / "s")
        lf = _lease_file(store)
        assert lf == store + ".__lease"
        assert not lf.startswith(store + "/")

    def test_remote_uri_degrades_to_documented_contract(self):
        assert _lease_file("s3a://bucket/store") is None
        # yields without enforcement (and without touching the fs)
        with store_writer_lease("s3a://bucket/store", "op"):
            pass

    def test_released_when_holder_process_dies(self, tmp_path):
        store = str(tmp_path / "s")
        code = (
            "from data_engineering_hs_spark.sources.parquet import "
            "store_writer_lease\n"
            "import os\n"
            f"cm = store_writer_lease({store!r}, 'crashed-op')\n"
            "cm.__enter__()\n"
            "os._exit(1)\n"  # dies holding the lease — no release code runs
        )
        subprocess.run(
            [sys.executable, "-c", code], cwd="/root/repo", check=False
        )
        # kernel released the flock with the dead process
        with store_writer_lease(store, "op"):
            pass


class TestMutatorsFailLoudUnderHeldLease:
    def test_append_fingerprints_refused_store_untouched(
        self, spark, tmp_path
    ):
        from data_engineering_hs_spark.operators.dedup import (
            append_fingerprints,
        )

        store = str(tmp_path / "fp")
        append_fingerprints(_fp_increment(spark, 0, 10), store)
        with store_writer_lease(store, "other-writer"):
            with pytest.raises(ConcurrentWriterError):
                append_fingerprints(_fp_increment(spark, 10, 20), store)
        assert spark.read.parquet(store).count() == 10
        # lease released by the refused attempt's error path too
        append_fingerprints(_fp_increment(spark, 10, 20), store)
        assert spark.read.parquet(store).count() == 20

    def test_append_lsh_bands_refused(self, spark, tmp_path):
        from data_engineering_hs_spark.operators.dedup import (
            append_lsh_bands,
        )

        store = str(tmp_path / "bands")
        bands = spark.createDataFrame(
            [(1, 0, 123)], "id long, band int, bucket long"
        )
        with store_writer_lease(store, "compaction"):
            with pytest.raises(ConcurrentWriterError):
                append_lsh_bands(bands, store)
        assert not os.path.isdir(store)
        append_lsh_bands(bands, store)
        assert spark.read.parquet(store).count() == 1

    def test_compact_parquet_refused_under_append_lease(
        self, spark, tmp_path
    ):
        from data_engineering_hs_spark.sources.parquet import (
            compact_parquet,
        )

        store = str(tmp_path / "t")
        for lo in (0, 10):
            _fp_increment(spark, lo, lo + 10).write.mode(
                "append"
            ).parquet(store)
        with store_writer_lease(store, "append_fingerprints"):
            with pytest.raises(ConcurrentWriterError):
                compact_parquet(spark, store)
        out = compact_parquet(spark, store)
        assert out["files_after"] <= out["files_before"]
        assert spark.read.parquet(store).count() == 20

    def test_cell_store_append_and_compact_refused(
        self, spark, tmp_path
    ):
        from data_engineering_hs_spark.operators.similarity import (
            append_to_cell_store,
            build_ivf_store,
            compact_cell_store,
        )

        corpus = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        centers = spark.createDataFrame(
            [(0, [0.0, 1.0]), (1, [8.0, 1.0])],
            "label int, centroid array<double>",
        )
        store = str(tmp_path / "ivf")
        build_ivf_store(corpus, centers, store)
        inc = spark.createDataFrame(
            [(100, [3.0, 1.0])], "vec_id long, embedding array<double>"
        )
        with store_writer_lease(store, "maintenance"):
            with pytest.raises(ConcurrentWriterError):
                append_to_cell_store(inc, centers, store)
            with pytest.raises(ConcurrentWriterError):
                compact_cell_store(spark, store)
        # post-release both work; content is the clean union
        append_to_cell_store(inc, centers, store)
        compact_cell_store(spark, store)
        got = sorted(
            r[0]
            for r in spark.read.parquet(store).select("vec_id").collect()
        )
        assert got == [*range(8), 100]


class TestTortureRace:
    def test_barrier_released_double_append_ends_clean(
        self, spark, tmp_path
    ):
        """The round-open probe shape, now under enforcement. Two
        threads release from a barrier into append_fingerprints of
        the SAME 100-row increment. Any interleaving must end CLEAN:
        each append either fully committed or was refused with
        ConcurrentWriterError — never the pre-lease 197-row state
        (duplicates + lost task files)."""
        from data_engineering_hs_spark.operators.dedup import (
            append_fingerprints,
        )

        store = str(tmp_path / "fp")
        inc = _fp_increment(spark, 0, 100).localCheckpoint(eager=True)
        bar = threading.Barrier(2)
        outcomes: list[str] = []
        lock = threading.Lock()

        def writer():
            bar.wait()
            try:
                append_fingerprints(inc, store)
                res = "committed"
            except ConcurrentWriterError:
                res = "refused"
            with lock:
                outcomes.append(res)

        threads = [threading.Thread(target=writer) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        committed = outcomes.count("committed")
        assert committed >= 1, outcomes
        df = spark.read.parquet(store)
        n, d = df.count(), df.distinct().count()
        # rows = 100 per committed writer, all 100 values present,
        # nothing torn — regardless of whether the race overlapped
        # (one refused) or serialized (both committed)
        assert d == 100
        assert n == 100 * committed, (n, outcomes)

    def test_append_racing_compaction_ends_clean(self, spark, tmp_path):
        """Append vs compact_parquet from a barrier: with the lease,
        one side fails up front with ConcurrentWriterError (or they
        serialize); either way the store ends with EXACTLY the
        committed increments — no stranded batch in a parked dir, no
        partial _temporary debris counted as data."""
        from data_engineering_hs_spark.operators.dedup import (
            append_fingerprints,
        )
        from data_engineering_hs_spark.sources.parquet import (
            compact_parquet,
        )

        store = str(tmp_path / "fp")
        append_fingerprints(_fp_increment(spark, 0, 50), store)
        inc = _fp_increment(spark, 50, 100).localCheckpoint(eager=True)
        bar = threading.Barrier(2)
        outcomes: dict[str, str] = {}

        def appender():
            bar.wait()
            try:
                append_fingerprints(inc, store)
                outcomes["append"] = "committed"
            except ConcurrentWriterError:
                outcomes["append"] = "refused"

        def compactor():
            bar.wait()
            try:
                compact_parquet(spark, store)
                outcomes["compact"] = "done"
            except ConcurrentWriterError:
                outcomes["compact"] = "refused"

        threads = [
            threading.Thread(target=appender),
            threading.Thread(target=compactor),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert set(outcomes) == {"append", "compact"}
        df = spark.read.parquet(store)
        expect = 100 if outcomes["append"] == "committed" else 50
        assert df.count() == expect, outcomes
        assert df.distinct().count() == expect
        # no stranded parked/staging dirs left behind
        leftovers = [
            d
            for d in os.listdir(str(tmp_path))
            if d.startswith("fp.") and not d.endswith(".__lease")
        ]
        assert leftovers == [], leftovers


class TestStreamingCdcApplyLease:
    def test_batch_refused_while_another_process_holds_the_lease(
        self, spark, tmp_path
    ):
        """streaming_cdc_apply swaps a rewritten table in each
        micro-batch, so it takes the table's lease like every other
        rewrite-and-swap op: with the lease held by another process
        the batch fails with ConcurrentWriterError and the table's
        files stay exactly as they were."""
        from data_engineering_hs_spark.streaming.pipelines import (
            streaming_cdc_apply,
        )

        table = str(tmp_path / "tbl")
        src = str(tmp_path / "changes")
        schema = "k long, v string, op string"
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        ).write.parquet(table)
        spark.createDataFrame([(3, "c", "insert")], schema).coalesce(
            1
        ).write.parquet(src)

        def files():
            return sorted(
                (os.path.join(r, f), os.stat(os.path.join(r, f)).st_mtime_ns)
                for r, _dirs, fs in os.walk(table)
                for f in fs
            )

        before = files()
        code = (
            "import sys\n"
            "from data_engineering_hs_spark.sources.parquet import "
            "store_writer_lease\n"
            f"with store_writer_lease({table!r}, 'other-process'):\n"
            "    print('held', flush=True)\n"
            "    sys.stdin.read()\n"
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        holder = subprocess.Popen(
            [sys.executable, "-c", code],
            cwd=repo,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        try:
            assert holder.stdout.readline().strip() == "held"
            q = streaming_cdc_apply(
                spark.readStream.schema(schema).parquet(src),
                table,
                str(tmp_path / "ckpt"),
                keys=["k"],
            )
            try:
                q.awaitTermination(300)
            except Exception:
                pass
            err = str(q.exception())
            assert "ConcurrentWriterError" in err, err
            assert "other-process" in err, err
        finally:
            holder.stdin.close()
            holder.wait(timeout=60)
        assert files() == before
        assert sorted(os.listdir(tmp_path)) == [
            "changes", "ckpt", "tbl", "tbl.__lease",
        ]
