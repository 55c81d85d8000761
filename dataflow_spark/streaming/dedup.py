"""Streaming deduplication — the reference's stateful kept-set, watermark-
and state-table-scoped.

The reference dedups keep a grow-forever ``seen_hashes`` set in process
memory (hash_deduplicator.py:75-86). Streaming re-expressions:

* ``dedup_exact_stream``        — built-in keyed state:
  ``dropDuplicatesWithinWatermark`` (state TTL'd by the watermark; the
  10^12-turn-safe path for "same text within the lateness horizon").
* ``StreamingFirstWinsDedup``   — EXACT incremental first-wins across the
  whole stream history via ``foreachBatch``: per micro-batch, rows whose
  MinHash-LSH bands collide with a previously-KEPT row's band are dropped
  (datasketch insertion-session semantics, minhash_deduplicator.py:74-89),
  then batch-internal first-wins resolves via the shared bucket-claim
  machinery. Since micro-batches commit in order, the result equals the
  reference's sequential scan in arrival order.

Exactly-once discipline: the claimed-band state is written to a PER-BATCH
directory (``bands/batch=<id>``, overwrite mode) and the read path only
unions directories whose batch id appears in the commit log. A crash
between the state write and the commit append therefore leaves an
invisible (uncommitted) state dir that replay simply overwrites with the
identical deterministic result — survivors can never be lost to their own
batch's bands (foreachBatch is at-least-once; this is the crash window the
commit log exists for, mirroring KeyedMergeSink).

State scale: band dirs are merged by ``compact()`` (bounded file listing)
with an optional event-time retention horizon so 10^12-turn streams don't
accrete unbounded state; retention is the operator's explicit
semantics-relaxing knob (a duplicate older than the horizon can resurface).

Bounded per-batch state READ (not just bounded file count): compaction
lays the keep-set's bands out in ``N_BUCKETS`` band-hash buckets
(``__bkt=N/`` partition dirs) and every state unit — bucket dir or
uncompacted per-batch dir — carries a Bloom-filter sidecar of its band
values (``streaming.bloom``). Every micro-batch takes one probe path:

1. hash the batch's persisted band table;
2. skip the compaction buckets none of the batch's bands hash into — the
   only per-batch collect is the set of distinct bucket ids (≤ the
   manifest's bucket count), so skipped buckets' sidecars are never
   loaded;
3. decide which of the remaining units have a possible hit with ONE
   executor-side scan: a ``bit_or`` aggregation of a Bloom-bitmask column
   (``bloom_multimask_udf``), chunked so each chunk's transient broadcast
   stays under ``PROBE_BROADCAST_MAX_BYTES`` (64 MiB); the same scan
   caches the candidate rows (bands some filter might contain);
4. exact-join ONLY the candidate rows against ONLY the hit units.

No band hash ever reaches the driver. Mostly-new data ⇒ hits ≈ real
duplicates + ~0.07% false positives ⇒ per-batch state bytes read stay
~flat while the keep-set grows without bound. Blooms have no false
negatives and the exact join makes the final call, so pruning can never
change the keep-set. A unit whose sidecar is missing or unreadable is
read as a possible hit, so a lost sidecar costs bytes read, never
exactness. Driver Bloom memory is LRU-capped (``BLOOM_CACHE_MAX_BYTES``,
256 MiB). ``last_state_read`` records units/bytes read per batch (the
quantity the scale test asserts flat). The remaining unbounded quantity
is sidecar bytes ON DISK (~2 B/committed band — 2 TB at 10^12 bands,
cheap storage); the event-time retention horizon stays the knob that
bounds even that.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_spark.operators.dedup import (
    first_wins_bucket_claim,
    minhash_bucket_table,
)
from dataflow_spark.streaming.bloom import (
    BloomCache,
    band_hash_cols,
    bloom_multimask_udf,
    build_bloom,
    dir_parquet_bytes,
    save_bloom,
    sidecar_bytes,
)
from dataflow_spark.streaming.sink import append_commit, read_commit_log


# cap on one probe chunk's transient broadcast of unit filters (read at
# call time)
PROBE_BROADCAST_MAX_BYTES = 64 << 20
# LRU cap on driver-side Bloom sidecar memory (read at construction)
BLOOM_CACHE_MAX_BYTES = 256 << 20

# compaction band-hash bucket count; each compaction records the count
# it wrote in its manifest, and the shard skip reads it from there
N_BUCKETS = 16

# probe chunk width: 16 mask words → up to 1008 unit filters
# decided per single scan of the batch (the bound guards the width of the
# per-word bit_or aggregation expression, not correctness)
_PROBE_MAX_UNITS = 63 * 16


def dedup_exact_stream(
    stream: DataFrame,
    cols: list[str],
    watermark_col: str = "ts",
    delay: str = "2 minutes",
) -> DataFrame:
    """Exact streaming dedup with watermark-scoped state."""
    h = F.md5(F.concat_ws("\n", *[F.coalesce(F.col(c), F.lit("")) for c in cols]))
    tagged = stream.withColumn("__h", h).withWatermark(watermark_col, delay)
    return tagged.dropDuplicatesWithinWatermark(["__h"]).drop("__h")


class StreamingFirstWinsDedup:
    """foreachBatch incremental MinHash first-wins dedup.

    Usage::

        d = StreamingFirstWinsDedup(state_dir, order_col="__ord")
        stream.writeStream.foreachBatch(d.process_batch)...

    ``process_batch`` filters the batch to first-wins survivors (vs all
    previously-kept rows AND batch-internal collisions) and hands the
    survivors to ``downstream`` (a callable, e.g. a KeyedMergeSink).

    ``ts_col`` (optional) stamps each claimed band with the keeper's event
    time so ``compact(retain_after_us=...)`` can expire ancient state."""

    def __init__(
        self,
        state_dir: str,
        order_col: str,
        text_col: str = "text",
        downstream=None,
        num_perm: int = 128,
        threshold: float = 0.9,
        seed: int = 1,
        ts_col: str | None = None,
        compact_every: int | None = 32,
    ):
        self.state_dir = state_dir
        self.order_col = order_col
        self.text_col = text_col
        self.downstream = downstream
        self.num_perm = num_perm
        self.threshold = threshold
        self.seed = seed
        self.ts_col = ts_col
        self.compact_every = compact_every
        self._bloom_cache = BloomCache(BLOOM_CACHE_MAX_BYTES)
        self._batch_release: list = []  # per-batch unpersist/destroy calls
        self._committed_cache: set[int] | None = None
        self._commits_stat: tuple[int, int] | None = None
        # per-batch read telemetry: {"units_total", "units_read",
        # "bytes_read", "candidates"} — the scale test asserts bytes_read
        # stays ~flat as committed state grows
        self.last_state_read: dict | None = None
        os.makedirs(os.path.join(state_dir, "bands"), exist_ok=True)

    # ------------------------------------------------------------- commit log

    @property
    def _commits(self) -> str:
        return os.path.join(self.state_dir, "_batches.jsonl")

    @property
    def _manifest(self) -> str:
        return os.path.join(self.state_dir, "_compaction.json")

    def _commits_fingerprint(self) -> tuple[int, int] | None:
        """(size, mtime_ns) of the commit log, or None when absent — both
        compared so an external SAME-LENGTH rewrite (crash-simulation
        surgery swapping a line rather than truncating) invalidates the
        cache, not just appends/truncations."""
        try:
            st = os.stat(self._commits)
        except OSError:
            return None
        return (st.st_size, st.st_mtime_ns)

    def _committed(self) -> set[int]:
        # the in-memory set is maintained by the (single-writer) commit
        # append and validated against the log's (size, mtime_ns) each
        # call (one stat) — a per-batch full-file re-read is
        # O(stream-lifetime²) in total, while external truncation,
        # replacement, or same-length modification still invalidates it
        fp = self._commits_fingerprint()
        if self._committed_cache is None or fp != self._commits_stat:
            self._committed_cache = {
                r["batch_id"] for r in read_commit_log(self._commits)
            }
            self._commits_stat = fp
        return self._committed_cache

    def _compaction(self) -> dict:
        if not os.path.exists(self._manifest):
            return {"upto": -1, "dir": None, "seq": 0}
        with open(self._manifest) as f:
            return json.load(f)

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.state_dir, "bands", f"batch={batch_id}")

    # ------------------------------------------------------------ band state

    def _band_table(self, df: DataFrame) -> DataFrame:
        bands = minhash_bucket_table(
            df,
            self.order_col,
            self.text_col,
            num_perm=self.num_perm,
            threshold=self.threshold,
            seed=self.seed,
        )
        if self.ts_col is not None:
            ts = df.select(
                F.col(self.order_col).alias("id"),
                F.unix_micros(F.col(self.ts_col).cast("timestamp")).alias("ts_us"),
            )
            return bands.join(ts, "id")
        return bands.withColumn("ts_us", F.lit(None).cast("long"))

    def _state_units(self) -> list[str]:
        """Prunable read units: each ``__bkt=N`` bucket dir of the current
        compaction (none once retention drained it to empty) plus every
        committed uncompacted per-batch dir."""
        committed = self._committed()
        comp = self._compaction()
        units: list[str] = []
        if comp["dir"] is not None:
            root = os.path.join(self.state_dir, "bands", comp["dir"])
            units.extend(sorted(_glob.glob(os.path.join(root, "__bkt=*"))))
        units.extend(self._batch_dir(b) for b in sorted(committed) if b > comp["upto"])
        return [u for u in units if os.path.exists(u)]

    @staticmethod
    def _read_units(spark: SparkSession, units: list[str]) -> DataFrame:
        # bucket subdirs are read directly (no partition-column inference),
        # so every unit yields the same (id, band, ts_us) schema
        return spark.read.parquet(*units).select("id", "band", "ts_us")

    # --------------------------------------------------------------- process

    @staticmethod
    def _unit_bucket(unit_dir: str) -> int | None:
        """Compaction bucket id of a state unit, or None (per-batch dir)."""
        base = os.path.basename(unit_dir)
        if base.startswith("__bkt="):
            return int(base.split("=", 1)[1])
        return None

    def _collisions_with_state(self, spark: SparkSession, bands: DataFrame):
        """ids of batch rows whose bands collide with committed state,
        reading as few state units as the Bloom sidecars allow. Returns a
        DataFrame[id] or None (no state / no possible collision); always
        sets ``last_state_read``.

        The driver's role is unit selection: it collects the batch's
        distinct bucket ids (≤ the manifest's bucket count) for the shard
        skip and one row per probe chunk, never a band hash. The per-unit
        hit/skip decision runs on the executors (``_probe_units``), and
        sidecar reads track the batch's bucket fan-out, not the keep-set.
        """
        units = self._state_units()
        self._bloom_cache.retain(units)
        read = {
            "units_total": len(units), "units_read": 0, "bytes_read": 0,
            "candidates": 0, "sidecar_bytes_loaded": 0,
            "probe_broadcast_peak_bytes": 0,
        }
        if not units:
            self.last_state_read = read
            return None
        # not persisted: the hashes are cheap JVM projections of the
        # persisted band table, and the probe caches the candidate rows
        probe_src = bands.select(
            "id",
            "band",
            *band_hash_cols("band"),
            F.xxhash64("band", F.lit("dfs-bkt")).alias("__hx"),
        )

        # 1. shard skip: the ONLY per-batch collect is the set of distinct
        #    bucket ids — ≤ the manifest's bucket count rows, independent
        #    of batch and state size. __hx is the RAW bucket hash; the
        #    bucket index is taken mod the count the compaction manifest
        #    RECORDS (the count the __bkt= dirs were written with), not
        #    N_BUCKETS, which may differ after a restart.
        cand_units = units
        if any(self._unit_bucket(u) is not None for u in units):
            n_buckets = self._compaction()["n_buckets"]
            batch_buckets = {
                r[0]
                for r in probe_src.select(
                    F.pmod(F.col("__hx"), F.lit(n_buckets)).alias("b")
                )
                .distinct()
                .collect()
            }
            cand_units = [
                u for u in units if self._unit_bucket(u) in batch_buckets | {None}
            ]

        # 2. distributed Bloom-bitmask probe → units to read, and the
        #    candidate rows the exact join must read
        hit_units, cand_rows = self._probe_units(spark, probe_src, cand_units, read)
        read.update(
            units_read=len(hit_units),
            bytes_read=sum(dir_parquet_bytes(u) for u in hit_units),
        )
        self.last_state_read = read
        if not hit_units:
            return None

        # 3. exact join of the candidate rows against ONLY the hit units —
        #    Blooms never have false negatives, so a row outside the
        #    candidates and a unit outside the hits share no band, and the
        #    result is identical to the full-state join.
        state = self._read_units(spark, hit_units)
        return (
            cand_rows.join(state.select("band").distinct().hint("shuffle_hash"), "band")
            .select("id")
            .distinct()
        )

    def _probe_units(
        self,
        spark: SparkSession,
        probe_df: DataFrame,
        units: list[str],
        read: dict,
    ) -> tuple[list[str], DataFrame]:
        """Which of ``units`` might contain any of ``probe_df``'s band
        hashes — decided ENTIRELY on the executors: each probe chunk runs
        one job that caches the rows of ``probe_df`` whose multi-word
        Bloom bitmask (``bloom_multimask_udf``) is non-zero and
        aggregates a per-word ``bit_or`` plus a count over them, so the
        driver receives ≤ ``units/63 + 1`` longs per chunk and never a
        band hash.

        Chunks are bounded by ``_PROBE_MAX_UNITS`` filters (the agg-
        expression width guard — 16 mask words) AND
        ``PROBE_BROADCAST_MAX_BYTES`` of transient broadcast, so probe
        cost is ONE scan of the (in-memory) persisted batch per ~1000
        sidecars. Executor copies of a chunk's broadcast are dropped right
        after its job; the driver keeps it until the batch ends, so a lost
        cached candidate block can still be recomputed. Units with a
        missing/unreadable sidecar are conservatively treated as hits
        (exactness over pruning).

        Returns ``(hit_units, cand_rows)``: ``cand_rows`` are the rows the
        exact join must read — the union of the chunks' candidates, or all
        of ``probe_df`` when a unit is read unprobed. Adds the candidate
        count to ``read["candidates"]``; it may double-count a row hitting
        units in different chunks (telemetry, not semantics)."""
        hit_units: list[str] = []
        unprobed = False
        probeable: list[tuple[str, int]] = []
        for u in units:
            sz = sidecar_bytes(u)
            if sz is None:
                hit_units.append(u)  # sidecar-less: must read
                unprobed = True
            else:
                probeable.append((u, sz))
        chunks: list[list[str]] = []
        cur: list[str] = []
        cur_bytes = 0
        for u, sz in probeable:
            if cur and (
                len(cur) >= _PROBE_MAX_UNITS
                or cur_bytes + sz > PROBE_BROADCAST_MAX_BYTES
            ):
                chunks.append(cur)
                cur, cur_bytes = [], 0
            cur.append(u)
            cur_bytes += sz
        if cur:
            chunks.append(cur)
        cands: list[DataFrame] = []
        for chunk in chunks:
            vals, kept = [], []
            for u in chunk:
                val, got = self._bloom_cache.get(u)
                read["sidecar_bytes_loaded"] += got
                if val is None:
                    hit_units.append(u)  # unreadable sidecar: must read
                    unprobed = True
                else:
                    vals.append(val)
                    kept.append(u)
            if not kept:
                continue
            read["probe_broadcast_peak_bytes"] = max(
                read["probe_broadcast_peak_bytes"],
                sum(v[0].nbytes for v in vals),
            )
            n_words = (len(kept) + 62) // 63
            aggs = [
                F.bit_or(F.element_at("__mk", j + 1)).alias(f"b{j}")
                for j in range(n_words)
            ]
            aggs.append(F.count(F.lit(1)).alias("cand"))
            mask, bc = bloom_multimask_udf(spark, vals)
            self._batch_release.append(bc.destroy)
            cand = self._persist(
                probe_df.withColumn("__mk", mask(F.col("__h1"), F.col("__h2")))
                .filter(F.exists("__mk", lambda x: x != F.lit(0)))
            )
            row = cand.agg(*aggs).collect()[0]
            bc.unpersist()
            for i, u in enumerate(kept):
                if ((row[f"b{i // 63}"] or 0) >> (i % 63)) & 1:
                    hit_units.append(u)
            read["candidates"] += row["cand"]
            cands.append(cand.drop("__mk"))
        if unprobed or not cands:
            return hit_units, probe_df
        return hit_units, reduce(DataFrame.unionByName, cands)

    def _persist(self, df: DataFrame) -> DataFrame:
        """Per-batch cache, released at the end of ``process_batch`` —
        unlike ``localCheckpoint`` (whose blocks linger until the JVM
        garbage-collects the RDD), an explicit persist/unpersist pair
        keeps a long-running stream's block manager flat."""
        self._batch_release.append(df.persist().unpersist)
        return df

    def _release_batch(self) -> None:
        for release in self._batch_release:
            try:
                release()
            except Exception:  # noqa: BLE001 - stopped context on teardown
                pass
        self._batch_release.clear()

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        if batch_id in self._committed():
            return  # replay of a committed batch — state+downstream done
        spark = df.sparkSession
        try:
            self._process_batch_inner(spark, df, batch_id)
        finally:
            self._release_batch()

    def _process_batch_inner(
        self, spark: SparkSession, df: DataFrame, batch_id: int
    ) -> None:
        import time as _time

        tm: dict[str, float] = {}
        t0 = _time.time()

        def _mark(phase: str) -> None:
            nonlocal t0
            now = _time.time()
            tm[phase] = round(now - t0, 3)
            t0 = now

        df = self._persist(df)
        bands = self._persist(self._band_table(df))

        # rows colliding with ANY previously-kept row are dropped outright
        # (the kept side always wins — it is strictly earlier). anti-join on
        # the band value: one shuffle, no self-join, no pair explosion —
        # and the state side is Bloom-pruned to the units that can collide.
        hit_ids = self._collisions_with_state(spark, bands)
        _mark("probe")
        if hit_ids is not None:
            df_alive = df.join(
                hit_ids.withColumnRenamed("id", "__hit"),
                df[self.order_col] == F.col("__hit"),
                "left_anti",
            )
        else:
            df_alive = df

        # batch-internal first-wins among the remaining rows (bucket-claim —
        # the same machinery as the batch operator)
        alive_bands = bands.join(
            df_alive.select(F.col(self.order_col).alias("id")), "id"
        ).select("id", "band")
        survivors = self._persist(
            first_wins_bucket_claim(df_alive, self.order_col, alive_bands)
        )

        # stage this batch's state under its OWN dir (overwrite => replay
        # converges to the same content), visible only after the commit
        surv_bands = self._persist(
            bands.join(survivors.select(F.col(self.order_col).alias("id")), "id")
        )
        surv_bands.write.mode("overwrite").parquet(self._batch_dir(batch_id))
        _mark("claim_write")  # bands + claim + state write all materialize here
        # Bloom sidecar before the commit append: a committed dir always
        # carries its filter (a crash mid-sidecar leaves the dir uncommitted
        # and replay overwrites both). Sized without an extra count job:
        # every survivor emits exactly `bands` band rows, so n_keys =
        # survivors × bands; built from the checkpointed band table (same
        # deterministic content as the parquet just written).
        n_surv = survivors.count()
        _mark("count")
        from dataflow_spark.operators.dedup import optimal_band_param

        n_bands, _ = optimal_band_param(self.threshold, self.num_perm)
        bits, m = build_bloom(surv_bands, max(n_surv * n_bands, 1))
        _mark("bloom_build")
        save_bloom(self._batch_dir(batch_id), bits, m)
        _mark("bloom_save")
        if self.downstream is not None:
            self.downstream(survivors, batch_id)
        _mark("downstream")
        append_commit(self._commits, {"batch_id": batch_id, "rows": n_surv})
        self._committed().add(batch_id)
        self._commits_stat = self._commits_fingerprint()

        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self.compact(spark)
        _mark("compact")
        # per-phase wall telemetry (driver-side): the scaling bench reads
        # this to attribute the per-batch fixed tail instead of guessing
        self.last_timings = tm

    # -------------------------------------------------------------- compact

    def compact(self, spark: SparkSession, retain_after_us: int | None = None) -> None:
        """Merge all committed per-batch band dirs (plus any previous
        compaction) into one directory; optionally drop bands whose keeper
        event time is older than ``retain_after_us``.

        Keep-set is unchanged when no retention horizon is given; with one,
        duplicates of keepers older than the horizon may resurface — the
        documented trade for bounded state at 10^12 turns."""
        committed = self._committed()
        if not committed:
            return
        units = self._state_units()
        if not units:
            return
        upto = max(committed)
        prev = self._compaction()
        state = self._read_units(spark, units)
        if retain_after_us is not None:
            state = state.filter(
                F.col("ts_us").isNull() | (F.col("ts_us") >= retain_after_us)
            )
        # write the merged state under a FRESH name, then flip the manifest —
        # a crash before the flip leaves the old state fully reachable.
        # Layout: N_BUCKETS band-hash partition dirs, each with a Bloom
        # sidecar, so the per-batch read path can prune at bucket grain.
        new_name = f"compact-{upto}-{prev['seq'] + 1}"
        new_dir = os.path.join(self.state_dir, "bands", new_name)
        (
            state.withColumn(
                "__bkt", F.pmod(F.xxhash64("band", F.lit("dfs-bkt")), F.lit(N_BUCKETS))
            )
            .repartition(N_BUCKETS, "__bkt")
            .write.partitionBy("__bkt")
            .mode("overwrite")
            .parquet(new_dir)
        )
        # per-bucket Blooms: one distributed build per bucket dir —
        # compaction-time cost, amortized over compact_every batches
        for sub in sorted(_glob.glob(os.path.join(new_dir, "__bkt=*"))):
            sdf = spark.read.parquet(sub)
            bits, m = build_bloom(sdf, max(sdf.count(), 1))
            save_bloom(sub, bits, m)
        # the flip itself is atomic (tmp + rename): a crash mid-write
        # leaves the previous manifest whole, never a truncated one that
        # every later batch would fail to parse. n_buckets is pinned IN
        # the manifest: the __bkt= dirs just written are only meaningful
        # under this count, and a restart under a different N_BUCKETS
        # must shard-skip against the recorded value
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "upto": upto,
                    "dir": new_name,
                    "seq": prev["seq"] + 1,
                    "n_buckets": N_BUCKETS,
                },
                f,
            )
        os.replace(tmp, self._manifest)
        # old dirs are now unreachable via the manifest — reclaim them
        for b in committed:
            if b <= upto:
                shutil.rmtree(self._batch_dir(b), ignore_errors=True)
        if prev["dir"] is not None:
            shutil.rmtree(
                os.path.join(self.state_dir, "bands", prev["dir"]), ignore_errors=True
            )
