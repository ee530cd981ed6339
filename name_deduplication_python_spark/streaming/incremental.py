"""Incremental (streaming) dedup: new pages arrive, match vs the corpus.

The reference is strictly batch (SURVEY §2.10) — this is the engine
extension a continuously-crawled corpus needs: a Structured Streaming job
that, per micro-batch of new pages,

  1. extracts + signs the new pages (same kernels as batch — identical
     signatures by construction),
  2. pairs the batch's band keys with the store keys sharing their
     buckets in ONE capped pass (lsh.candidate_pairs with a side column:
     new-vs-new and new-vs-old together, the J2/J3 analogs),
  3. verifies and appends edges, then appends the new signatures to the
     store (exactly-once per epoch via idempotent epoch subdirs).

foreachBatch is the right tool (not a stateful operator): the signature
store is too large for stream state and must live in the lake; each
micro-batch is a bounded batch job against it. Checkpointing comes from
the streaming checkpoint dir + the store's epoch layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import DEFAULT_CONFIG
from ..operators.extract import extract_stage
from ..operators.lsh import band_keys, candidate_pairs
from ..operators.signatures import signature_stage
from ..operators.verify import verify_stage
from ..schemas import WEB_PAGES


class IncrementalDedup:
    # store tables are read with the schemas they are written with: an
    # epoch dir can hold no file (compact_store's bare marker dir for an
    # all-superseded epoch), and each inference is a Spark job of its own
    BAND_KEYS_SCHEMA = "url string, bh bigint, epoch int"
    SIGNATURES_SCHEMA = (
        "url string, minhash array<int>, simhash bigint, n_shingles int, epoch int"
    )
    EDGES_SCHEMA = (
        "src string, dst string, est_jaccard double, hamming int, status string, "
        "via string, epoch int"
    )

    def __init__(self, spark: SparkSession, store_dir: str, config: dict | None = None):
        self.spark = spark
        self.store = store_dir
        self.cfg = dict(DEFAULT_CONFIG, **(config or {}))
        # MUST run before the makedirs below: a crash mid-compact_store
        # leaves the real store parked at <sub>__old, and blindly
        # recreating an empty <sub>/ would leave no committed epoch, so
        # process_batch would treat the store as cold — silently skipping
        # all cross-epoch pairs.
        self._recover_compaction()
        os.makedirs(os.path.join(store_dir, "signatures"), exist_ok=True)
        os.makedirs(os.path.join(store_dir, "band_keys"), exist_ok=True)
        os.makedirs(os.path.join(store_dir, "edges"), exist_ok=True)
        self._refuse_bp_band_store()

    def _recover_compaction(self) -> None:
        """Complete or discard a compact_store swap interrupted by a crash.

        compact_store's protocol makes every half-state unambiguous: the
        <sub>__compact rewrite is fully complete (epoch _SUCCESS markers
        included) BEFORE rename(root -> __old); only then runs
        rename(__compact -> root); only then rmtree(__old). So on
        restart, per store table:

          - __old absent: no swap was in flight. A stray __compact is a
            finished-but-unswapped (or partial) rewrite — discard it; the
            rewrite is a pure function of the committed store and the
            next compaction regenerates it.
          - __old present, __compact present: crashed between the two
            renames. Roll FORWARD: the rewrite is complete by protocol —
            remove any stray empty root (an earlier crashed restart's
            makedirs), move __compact into place, drop __old.
          - __old present, __compact absent: crashed during/after
            rename(__compact -> root) — the live root IS the complete
            rewrite; __old (possibly part-deleted) is garbage. Drop it.
        """
        import shutil

        for sub in ("signatures", "band_keys"):
            root = os.path.join(self.store, sub)
            old, tmp = root + "__old", root + "__compact"
            if not os.path.isdir(old):
                if os.path.isdir(tmp):
                    shutil.rmtree(tmp)
                continue
            if os.path.isdir(tmp):
                if os.path.isdir(root):
                    shutil.rmtree(root)
                os.rename(tmp, root)
            shutil.rmtree(old)

    def _refuse_bp_band_store(self) -> None:
        """Band-key epochs are plain parquet. An epoch written by the
        older layout, hive-partitioned by bp = pmod(bh, 64), breaks
        Spark's partition discovery next to plain epochs (conflicting
        directory structures) — refuse such a store; there is no
        dual-layout reader."""
        bk = os.path.join(self.store, "band_keys")
        for e in sorted(os.listdir(bk)):
            p = os.path.join(bk, e)
            if os.path.isdir(p) and any(n.startswith("bp=") for n in os.listdir(p)):
                raise ValueError(
                    f"band-key store epoch {p} uses the bp= partitioned layout; "
                    "re-ingest the corpus into a new store"
                )

    def _read_store(self, sub: str) -> DataFrame:
        schema = getattr(self, f"{sub.upper()}_SCHEMA")
        return self.spark.read.schema(schema).parquet(os.path.join(self.store, sub))

    @staticmethod
    def _pruned_store_keys(
        old_keys: DataFrame, old_sigs: DataFrame, new_keys: DataFrame, new_urls: DataFrame
    ) -> DataFrame:
        """Store band keys ``(url, bh, epoch)`` that may pair with this
        batch, read in O(batch + touched buckets) from the epoch-filtered
        store tables ``old_keys`` and ``old_sigs``:

          1. row pruning: a broadcast left-semi join on the batch's bh set
             drops non-colliding rows inside the scan — the store is never
             shuffled; only rows in TOUCHED buckets reach the candidate
             join;
          2. re-crawl, latest-epoch-wins (VERDICT r4 #4): a key pairs only
             if its url has no LATER version — neither a store signature
             at a higher epoch nor a row in THIS batch (``new_urls``): one
             broadcast anti-join on ``later.epoch > key.epoch``.

        The later versions come from the signature store's (url, epoch)
        projection (epoch is the hive partition column, so the scan never
        touches the 512 B payloads), restricted first to the pruned keys'
        urls, so the broadcast stays O(touched). They span the url's FULL
        store history, not the bucket-pruned subset: a url whose latest
        version changed text (different buckets) must yield NO rows when
        only its stale version's buckets collide with the batch. No
        aggregate, so no shuffle; the verify side fetches payloads by the
        (url, epoch) these keys carry (_store_sigs_for). A 10^12-doc
        deployment replaces the projection scan with a compacted
        current-version pointer table maintained per epoch; the contract
        is identical."""
        keys = old_keys.join(F.broadcast(new_keys.select("bh")), "bh", "left_semi")
        # a batch url outranks every store epoch
        later = (
            old_sigs.select("url", "epoch")
            .join(F.broadcast(keys.select("url")), "url", "left_semi")
            .unionByName(new_urls.select("url", F.lit(2**31 - 1).alias("epoch")))
            .select(F.col("url").alias("_later_url"), F.col("epoch").alias("_later"))
        )
        return keys.join(
            F.broadcast(later),
            (F.col("url") == F.col("_later_url")) & (F.col("_later") > F.col("epoch")),
            "left_anti",
        )

    @staticmethod
    def _store_sigs_for(old_sigs: DataFrame, old_keys: DataFrame) -> DataFrame:
        """Store signatures of exactly the (url, epoch) versions the pruned
        store keys carry — the verify join pulls the 512 B payloads of
        touched docs only, O(batch + touched docs) per epoch, not
        O(corpus). Each is a store url at its latest epoch and never a
        batch url (_pruned_store_keys), so no re-crawl filter is needed
        here. Every cross pair's dst is among them; in a capped bucket a
        few more are fetched than pair."""
        fetch = old_keys.select("url", "epoch")
        return old_sigs.join(F.broadcast(fetch), ["url", "epoch"], "left_semi").drop(
            "epoch"
        )

    def process_batch(self, pages: DataFrame, epoch_id: int) -> None:
        """foreachBatch body — also callable directly for unit tests.

        Band keys are PERSISTED per epoch as plain parquet
        (store/band_keys/epoch=N), and the batch's keys pair with the key
        store's rows after _pruned_store_keys cut it to the batch's buckets
        inside the scan — the store is never shuffled; per-epoch shuffle
        cost is O(batch + touched buckets). (Round 1 recomputed band_keys
        over the whole corpus per epoch; round 3 still shuffled the full
        key store.) One candidate_pairs call pairs the batch keys (side 0)
        with those store keys (side 1): store keys never pair with each
        other and a hot bucket is capped whatever side its members come
        from. The verify payloads are fetched by the (url, epoch) of those
        store keys (_store_sigs_for), so the pairs are read once, by the
        verify join, and need no checkpoint.

        Replay exactness: all store reads are filtered to ``epoch <
        epoch_id``. A crash after the band_keys/epoch=N write but before
        the signatures write (the idempotence marker) leaves partial
        epoch-N files in the store; an unfiltered replay of epoch N would
        read its OWN keys back and pair the batch against itself
        (self-edges + duplicated intra-batch pairs). The filter makes the
        replay read exactly what the first attempt read.

        Cold store: the batch is cold iff no epoch below epoch_id has
        committed (_committed_epochs) — the first epoch, and its replay
        after a crash before the marker. Any other batch reads the store,
        and a store that fails to read raises: it never reads as cold.
        """
        c = self.cfg
        sig_epoch = os.path.join(self.store, "signatures", f"epoch={epoch_id}")
        if os.path.exists(os.path.join(sig_epoch, "_SUCCESS")):
            return  # epoch replayed after restart: already applied
        extracted = extract_stage(pages)
        new_sigs = signature_stage(
            extracted,
            num_hashes=c["num_hashes"],
            shingle_k=c["shingle_k"],
            seed=c["seed"],
        ).localCheckpoint()
        # reused three ways (store pruning, pairing, persistence)
        new_keys = band_keys(
            new_sigs, bands=c["bands"], rows_per_band=c["rows_per_band"]
        ).localCheckpoint()

        keys = new_keys.select("url", "bh", F.lit(0).alias("side"))
        all_sigs = new_sigs
        # cold-store rule (see docstring)
        if any(e < epoch_id for e in self._committed_epochs()):
            old_sigs = self._read_store("signatures").where(F.col("epoch") < epoch_id)
            old_keys = self._pruned_store_keys(
                self._read_store("band_keys").where(F.col("epoch") < epoch_id),
                old_sigs,
                new_keys,
                new_sigs.select("url"),
            )
            # store keys pair as side 1: never with each other, and with a
            # batch url on src; the anti-join on batch urls keeps src != dst
            keys = keys.unionByName(old_keys.select("url", "bh", F.lit(1).alias("side")))
            all_sigs = new_sigs.unionByName(self._store_sigs_for(old_sigs, old_keys))
        # one capped pass: new-vs-new and new-vs-store
        pairs, _ = candidate_pairs(keys, bucket_cap=c["bucket_cap"], side_col="side")

        edges = verify_stage(
            pairs,
            all_sigs,
            num_hashes=c["num_hashes"],
            jaccard_threshold=c["jaccard_threshold"],
            simhash_radius=c["simhash_radius"],
            hamming_est_floor=c.get("hamming_est_floor"),
        )
        edges.write.mode("overwrite").parquet(
            os.path.join(self.store, "edges", f"epoch={epoch_id}")
        )
        new_keys.write.mode("overwrite").parquet(
            os.path.join(self.store, "band_keys", f"epoch={epoch_id}")
        )
        # signatures written LAST: their _SUCCESS is the epoch's idempotence
        # marker, so a crash mid-epoch replays the whole epoch (overwrite
        # mode makes the replay exact)
        new_sigs.write.mode("overwrite").parquet(sig_epoch)

    def _committed_epochs(self) -> list[int]:
        """Epochs whose signature write (the idempotence marker) finished.
        Partial files from a crash mid-epoch carry no _SUCCESS and are
        excluded — the epoch replays on restart."""
        root = os.path.join(self.store, "signatures")
        out = []
        for n in os.listdir(root):
            if n.startswith("epoch=") and os.path.exists(
                os.path.join(root, n, "_SUCCESS")
            ):
                out.append(int(n.split("=", 1)[1]))
        return sorted(out)

    def compact_store(self) -> dict:
        """Offline store maintenance (run between epochs, stream stopped):
        physically drop superseded version rows — for each url keep only
        its LATEST committed signature/band-key epoch. This materializes
        the latest-epoch-wins contract the read paths (_pruned_store_keys,
        edges(current_only)) already enforce logically, so re-crawl-heavy
        stores stop growing O(crawls) and revert to O(corpus).

        Semantics are preserved exactly:
          - epoch VALUES are kept (rows move nowhere; stale rows vanish),
            so `epoch < epoch_id` replay filters, _pruned_store_keys, and
            edges(current_only) read identically before/after;
          - every committed epoch keeps its directory + _SUCCESS marker
            (recreated empty when all its rows were superseded), so epoch
            replay after a restart remains a no-op;
          - uncommitted (crashed, markerless) epochs are left out of the
            rewrite entirely — their replay rewrites them wholesale in
            overwrite mode anyway.
        The edge log is NOT touched (append-only provenance; stale edges
        are filtered at read by edges(current_only)).

        The url -> latest-epoch map is O(corpus): this is a maintenance
        job over the whole store by construction (one shuffle per store
        table), not a per-epoch cost. The directory-rename swap is the
        local-FS stand-in for an Iceberg REPLACE TABLE snapshot commit,
        made crash-safe by ordering: the <sub>__compact rewrite is COMPLETE
        (epoch _SUCCESS markers included) before the first rename, so any
        half-state is mechanically recoverable — _recover_compaction
        (run at __init__ and before each compaction) rolls the swap
        forward when the rewrite survived the crash and discards it
        otherwise (the rewrite is a pure function of the committed store,
        so redoing it is always safe). A crash can therefore never leave
        a store that READS as empty/cold. Returns per-store before/after
        rowcounts."""
        import shutil

        self._recover_compaction()
        committed = self._committed_epochs()
        stats: dict = {"committed_epochs": len(committed)}
        if not committed:
            return stats
        latest = (
            self._read_store("signatures")
            .where(F.col("epoch").isin(committed))
            .select("url", "epoch")
            .groupBy("url")
            .agg(F.max("epoch").alias("epoch"))
            # materialize BEFORE any directory swap: the lazy plan holds
            # the pre-swap signature file list, which the band_keys pass
            # would re-scan after signatures/ was already replaced. Two
            # 8-byte-ish columns per url; a 10^12-doc deployment persists
            # this to a temp table instead.
            .localCheckpoint()
        )
        for sub in ("signatures", "band_keys"):
            root = os.path.join(self.store, sub)
            df = self._read_store(sub).where(F.col("epoch").isin(committed))
            stats[f"{sub}_rows_before"] = df.count()
            kept = df.join(latest, ["url", "epoch"], "left_semi")
            tmp = root + "__compact"
            kept.write.mode("overwrite").partitionBy("epoch").parquet(tmp)
            # finish the rewrite IN PLACE before the swap: epoch marker
            # dirs are recreated inside tmp, so tmp is a complete store
            # the moment the first rename runs (recovery invariant).
            for e in committed:
                d = os.path.join(tmp, f"epoch={e}")
                os.makedirs(d, exist_ok=True)
                open(os.path.join(d, "_SUCCESS"), "a").close()
            old = root + "__old"
            os.rename(root, old)
            os.rename(tmp, root)
            shutil.rmtree(old)
            stats[f"{sub}_rows_after"] = self._read_store(sub).count()
        return stats

    def start(self, source_dir: str, checkpoint_dir: str, available_now: bool = True):
        """File-source stream of web_pages parquet -> incremental dedup."""
        stream = (
            self.spark.readStream.schema(WEB_PAGES)
            .option("maxFilesPerTrigger", "8")
            .parquet(source_dir)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def edges(self, current_only: bool = True) -> DataFrame:
        """The accumulated edge set. current_only (default) applies
        latest-epoch-wins at READ time: an edge written at epoch e scored
        the versions of src/dst current AT e; if either url was re-crawled
        in a LATER epoch, the edge describes superseded text and is
        dropped (the re-crawl epoch re-paired the new version against the
        store, so current relationships are re-derived there). Keep rule:
        last_crawl_epoch(src) <= e AND last_crawl_epoch(dst) <= e.
        current_only=False returns the raw append-only log (provenance /
        replay debugging)."""
        e = self._read_store("edges")
        if not current_only:
            return e
        latest = (
            self._read_store("signatures")
            .select("url", "epoch")
            .groupBy("url")
            .agg(F.max("epoch").alias("_last"))
        )
        for side in ("src", "dst"):
            e = e.join(
                latest.select(
                    F.col("url").alias(side), F.col("_last").alias(f"_last_{side}")
                ),
                side,
                "left",
            )
        return (
            e.where(
                (F.coalesce(F.col("_last_src"), F.lit(-1)) <= F.col("epoch"))
                & (F.coalesce(F.col("_last_dst"), F.lit(-1)) <= F.col("epoch"))
            )
            .drop("_last_src", "_last_dst")
        )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a (streaming or batch)
    events DataFrame — late data beyond the watermark is dropped in
    streaming mode; in batch mode the same plan is a plain window agg
    (mirrors plans/queries.q_events_windowed)."""
    # watermarks require TIMESTAMP (LTZ); parquet NTZ is cast (UTC session)
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if events.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
