"""Streaming incremental corpus dedup: the production topology for a
continuously-ingesting training-data pipeline.

Each micro-batch is screened, in order, against

  1. itself, exactly           (content-hash canonical pick, min id)
  2. the accumulated corpus,   (id re-delivery + content-hash anti-joins)
     exactly
  3. itself, near-dup          (banded LSH self-join + exact-Jaccard
                                verify; min-id representative kept)
  4. the accumulated corpus,   (asymmetric banded LSH join of the
     near-dup                   batch's keys against silver's stored
                                ``band_keys``, pruned to the buckets the
                                batch touches, NEVER a corpus self-join —
                                + exact-Jaccard verify)
  5. semantic, optional        (embedding-space screen, ``sem_index_path``:
     (within-batch + corpus)    rephrased dups whose shingle Jaccard is
                                low but whose hashing-trick cosine is
                                high; k-means-cell blocked against an
                                at-rest (cell, epoch)-partitioned index
                                with centroids pinned at first use)

and the survivors are appended to the silver corpus. Generalizes the
reference's incremental high-watermark publish (main.py:44-51) from
"newer timestamp per station" to "novel content vs everything admitted".

Scale shape (the 100 TB contract):
  * The corpus is NEVER re-shingled or re-hashed. Silver stores each
    admitted doc's ``content_hash`` and LSH ``band_keys`` (operators/
    dedup.py:minhash_band_keys — ``bands`` short strings per doc);
    screening explodes the stored keys (``banded_from_keys``). Per batch,
    corpus-side work is one scan of the narrow ``band_keys`` column + the
    bucket join on (band, key); there is no second at-rest key store. A
    band-key index partitioned by key-hash prefix was measured and
    removed: even a small batch's keys touch most prefix buckets, so
    partition pruning never took effect, while every micro-batch paid to
    write and list its many small files (SCALE.md).
  * Corpus text is touched ONLY for docs that land in a candidate pair
    (semi-join on candidate ids before the Jaccard verify) — cost is
    proportional to |candidates|, not |corpus|.
  * ``_MAX_BUCKET`` caps degenerate corpus buckets (boilerplate bands),
    the same skew guard every batch composition wires.
  * Exactly-once across restarts WITHOUT an idempotent-sink assumption:
    silver is partitioned by ``ingest_epoch`` and written with dynamic
    partition overwrite (``sinks.writers.overwrite_epochs``), the reject
    stores with one static overwrite per epoch (``write_epoch``), so a
    replayed epoch overwrites its own previous (possibly partial) output;
    the corpus read excludes the in-flight epoch's partition, so a replay
    screens against exactly the state the first attempt saw and
    recomputes byte-identical survivors. Source offsets live in the
    checkpoint (T3, exactly-once file intake).

Within-batch near-dup keeps the MIN-ID doc of each verified pair rather
than a full transitive closure (a chain a~b~c with a !~ c keeps {a} where
batch connected-components would keep {a, c}) — the standard streaming
approximation; run ``doc_dedup_clusters`` over silver for closure-exact
retrospective clustering.
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.errors import AnalysisException

from ..operators import dedup as dd
from ..operators import selection as sel
from ..operators import similarity as sim
from ..operators import text as tx
from ..sinks.writers import (
    epoch_ids,
    fold_epochs,
    overwrite_epochs,
    read_epochs,
    recover_fold,
    rewrite_epochs,
    stored_epochs,
    write_epoch,
)

# near-dup skew guard: (band, key) buckets with more members are dropped
# before the candidate joins (boilerplate bands)
_MAX_BUCKET = 1000
# semantic screen: nearest cells each batch doc probes, and the
# hashing-trick embedding's width and seed. Pinned centroids and index
# vectors carry the width, and _dim_guard fails loudly on a store written
# under another one.
_SEM_PROBES = 2
_SEM_DIM = 64
_SEM_SEED = "emb"


@dataclass
class StreamingIncrementalDedup:
    spark: SparkSession
    landing_dir: str
    silver_path: str
    checkpoint_dir: str
    schema: StructType
    text_col: str = "text"
    id_col: str = "doc_id"
    n: int = 5
    num_hashes: int = 16
    bands: int = 4
    threshold: float = 0.6
    # Optional embedding-space (SEMANTIC) screen: catches rephrased
    # duplicates whose shingle Jaccard is low but whose hashing-trick
    # cosine is high (word-order edits, clause shuffles): an at-rest
    # index of each admitted doc's scaled embedding + k-means cell id,
    # partitioned by (cell, ingest_epoch). Per batch, docs probe their
    # ``_SEM_PROBES`` nearest cells and only those cell partitions of the
    # index are scanned (broadcast probe join -> dynamic partition
    # pruning — the corpus index is NEVER shuffled or re-embedded).
    # Centroids are trained ONCE (deterministic fixed-iteration Lloyd on
    # the first batch, quantized) and pinned on disk: a growing corpus
    # must not re-cell already-admitted docs, and epoch replay must see
    # the identical blocking. Same exactly-once story as silver.
    sem_index_path: str | None = None
    sem_threshold: float = 0.9
    sem_k: int = 8
    # Optional CURATION GATES: the batch pipeline's own gate definitions
    # (operators: repetition_gate, gopher_gate, ppl_gate — the
    # corpus_curation_pipeline stages 2-3 verdicts) so continuous ingest
    # gets the same text hygiene without dropping to batch. All are
    # BATCH-LOCAL (map-side regex / map-side-combined
    # shuffles of batch rows only) — the per-batch corpus-shuffle-free
    # contract is untouched. Each gate runs exactly when its rejects
    # path is set: gated docs must be observable, never silently
    # dropped. Every rejects store is written with one static overwrite
    # per epoch (sinks.writers.write_epoch), so a replayed epoch
    # replaces its own rejects, and a replay that rejects nothing
    # clears them.
    #   pii_scrub: replace the text column with its scrubbed form
    #   (operators/text.py:scrub_text) BEFORE any hashing, so silver
    #   never stores raw PII and two docs differing only in redacted
    #   values collapse in the exact-dedup stage — the batch pipeline's
    #   ordering, for the same reasons.
    #   rejects_path: the repetition gate (operators/text.py:
    #   repetition_gate, thresholds REP_MAX_*) over the scrubbed batch;
    #   gated docs land here with their measured fractions and a reason.
    #   gopher_rejects_path: the Gopher gate (operators/text.py:
    #   gopher_gate — word count, mean word length, symbol ratio, alpha
    #   fraction, stop-words, bullet/ellipsis lines at the GOPHER_*
    #   constants); gated docs land here (their OWN store — the rule
    #   stats schema differs from the repetition fractions, and mixed
    #   leaf schemas under one parquet root read back fragile) with
    #   per-rule booleans and a reason.
    pii_scrub: bool = False
    rejects_path: str | None = None
    gopher_rejects_path: str | None = None
    #   ppl_rejects_path: the CCNet perplexity filter as a micro-batch
    #   gate. Unlike the batch query (terciles over the whole corpus at
    #   query time), a stream cannot re-rank the past: the LM's
    #   per-bucket cost table AND the head/middle/tail cuts are
    #   trained ONCE (train_ppl_model — CCNet's external trusted
    #   corpus, e.g. a Wikipedia-role frame) and pinned at rest under
    #   ``ppl_model_path`` (costs/ = the full-domain B-row fixed-point
    #   log2 cost table, stats/ = cuts + the hashing params they were
    #   trained with). Batches are scored against the pinned table (one
    #   explode + map-side-combined groupBy of batch rows + the B-row
    #   broadcast join — batch-local) and docs the ppl_gate rejects
    #   (bucket not in selection.PPL_KEEP) land here with their scores.
    #   Retraining (re-calling train_ppl_model) rewrites the model;
    #   a live instance keeps its memoized table and must be
    #   restarted to pick the new one up, and epoch replays after
    #   a retrain may admit differently — the centroid-staleness
    #   story, verbatim: pin, observe drift, retrain deliberately.
    ppl_model_path: str | None = None
    ppl_rejects_path: str | None = None
    # whether the semantic index's coverage of silver has been checked
    # by this instance
    _coverage_checked: bool = field(
        default=False, init=False, repr=False
    )
    _banding_checked: bool = field(
        default=False, init=False, repr=False
    )
    # memoized pinned training-epoch assignment-distance reference
    # (median + p90) — re-read from disk once per instance. q90 may be
    # None for a stats file written before the q90 track existed.
    _sem_train_q50: float | None = field(
        default=None, init=False, repr=False
    )
    _sem_train_q90: float | None = field(
        default=None, init=False, repr=False
    )
    # memoized pinned LM (B-row cost frame + tercile cuts) — read from
    # disk once per instance
    _ppl_pinned: tuple[DataFrame, float, float] | None = field(
        default=None, init=False, repr=False
    )

    def start(self, available_now: bool = False) -> StreamingQuery:
        stream = (
            self.spark.readStream.schema(self.schema)
            .parquet(self.landing_dir)
        )
        writer = (
            stream.writeStream.outputMode("append")
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- corpus state -----------------------------------------------------

    def _missing_epochs(
        self, spark: SparkSession, exclude_epoch: int | None = None
    ) -> tuple[DataFrame | None, list]:
        """(silver, the sorted silver epochs the semantic index has no
        rows for), ``exclude_epoch`` left out of both stores; (None, [])
        when nothing has been admitted yet."""
        silver = read_epochs(spark, self.silver_path, exclude=exclude_epoch)
        if silver is None:
            return None, []
        idx = read_epochs(
            spark, self._sem_rows_path(), self._sem_read_schema(),
            exclude_epoch,
        )
        have = set() if idx is None else epoch_ids(idx)
        return silver, sorted(epoch_ids(silver) - have)

    def _check_coverage(
        self, spark: SparkSession, exclude_epoch: int
    ) -> None:
        """Refuse to screen against a semantic index that does not cover
        every admitted silver epoch — an index enabled AFTER epochs were
        admitted without it would silently skip screening against those
        docs. Checked once per runner instance (coverage cannot regress
        mid-run: every epoch writes both stores)."""
        if self._coverage_checked:
            return
        _, missing = self._missing_epochs(spark, exclude_epoch)
        if missing:
            raise RuntimeError(
                f"semantic index {self.sem_index_path} is missing epochs "
                f"{missing} that exist in silver — screening against it "
                "would skip those docs' embeddings. Run "
                "backfill_sem_index(spark) once before streaming."
            )
        self._coverage_checked = True

    # -- banding version pin / migration ----------------------------------

    def _banding_pin_path(self) -> str:
        return self.silver_path + "_banding"

    _BANDING_PIN_SCHEMA = "n long, num_hashes long, bands long"

    def _check_banding_pin(self, spark: SparkSession) -> None:
        """Pin the (n, num_hashes, bands) the silver corpus' stored
        ``band_keys`` were computed with, and refuse to run when the
        instance config disagrees: screening v1-keyed corpus rows with
        v2 batch keys makes the bucket join silently match NOTHING —
        every near-dup of an admitted doc would be admitted again. The
        first run writes the pin; a mismatch afterwards means the
        operator wants a banding upgrade (e.g. to the measured
        K48/b8/r6 S-curve knee) and must run ``migrate_banding`` into
        a fresh root. Checked once per instance (the ppl-gate config
        posture)."""
        if self._banding_checked:
            return
        configured = (self.n, self.num_hashes, self.bands)
        try:
            row = spark.read.schema(self._BANDING_PIN_SCHEMA).parquet(
                self._banding_pin_path()
            ).first()
        except AnalysisException:
            row = None
        if row is None:
            # First pin. Over a NON-EMPTY pre-pin-feature silver, the
            # instance config is not automatically the truth: a legacy
            # deployment whose config already drifted from its stored
            # band_keys would get the WRONG banding pinned as gospel —
            # the exact silent-readmission failure the pin exists to
            # catch. Sanity-check one stored row: recompute its
            # band_keys from its TEXT under the configured
            # (n, num_hashes, bands) and require the stored array to
            # match byte-for-byte. (A bare len(band_keys) == bands
            # check would miss same-bands drift — e.g. a legacy silver
            # built with the same ``bands`` but a different
            # ``num_hashes`` has different rows-per-band, hence
            # different key strings of the same COUNT.)
            silver = read_epochs(spark, self.silver_path)
            sample = None if silver is None else (
                silver.filter(
                    F.col("band_keys").isNotNull()
                    & F.col(self.text_col).isNotNull()
                )
                .select(self.id_col, self.text_col, "band_keys")
                .first()
            )
            if sample is not None:
                try:
                    recomputed = (
                        dd.minhash_band_keys(
                            spark.createDataFrame(
                                [(sample[self.id_col],
                                  sample[self.text_col])],
                                f"{self.id_col} {self._id_type()}, "
                                f"{self.text_col} string",
                            ),
                            text_col=self.text_col,
                            id_col=self.id_col,
                            n=self.n,
                            num_hashes=self.num_hashes,
                            bands=self.bands,
                        )
                        .select("band_keys")
                        .first()["band_keys"]
                    )
                except Exception as exc:  # noqa: BLE001
                    # e.g. the stored id doesn't fit the configured
                    # _id_type() — schema drift is the likely cause,
                    # the same failure class the pin exists to catch:
                    # surface the clean refusal, not a raw Spark error.
                    raise RuntimeError(
                        "refusing to write first banding pin: could "
                        "not recompute band_keys for a sampled silver "
                        f"row at {self.silver_path!r} "
                        f"({type(exc).__name__}: {exc}) — the stored "
                        "rows likely predate the pin feature with a "
                        "drifted schema or banding. Run "
                        "migrate_banding(...) into a new silver root, "
                        "or configure the banding/schema the silver "
                        "was actually built with."
                    ) from exc
                if list(sample["band_keys"]) != list(recomputed):
                    raise RuntimeError(
                        "refusing to write first banding pin: silver "
                        f"at {self.silver_path!r} stores band_keys "
                        "that do not reproduce under the configured "
                        f"(n, num_hashes, bands)={configured} — the "
                        "stored keys predate the pin feature and were "
                        "computed with a different banding. Pinning "
                        "the current config would bless the mismatch "
                        "and silently re-admit near-dups. Run "
                        "migrate_banding(...) into a new silver root, "
                        "or configure the banding the silver was "
                        "actually built with."
                    )
            spark.createDataFrame(
                [configured], self._BANDING_PIN_SCHEMA
            ).coalesce(1).write.mode("overwrite").parquet(
                self._banding_pin_path()
            )
        else:
            pinned = (row["n"], row["num_hashes"], row["bands"])
            if pinned != configured:
                raise RuntimeError(
                    "banding config mismatch: silver at "
                    f"{self.silver_path!r} stores band_keys computed "
                    f"with (n, num_hashes, bands)={pinned} but this "
                    f"instance is configured with {configured}. "
                    "Screening with mismatched banding silently admits "
                    "every near-dup — run migrate_banding(...) into a "
                    "new silver root to upgrade, or fix the config."
                )
        self._banding_checked = True

    def migrate_banding(
        self,
        spark: SparkSession,
        dest_silver_path: str,
        num_hashes: int = 48,
        bands: int = 8,
        n: int | None = None,
    ) -> int:
        """One-time banding upgrade: rebuild the silver corpus'
        ``band_keys`` at a NEW (num_hashes, bands) — the migration that
        lets an existing deployment collect the measured K48/b8/r6 S-curve
        knee (SCALE_MEASURED.json: 12x fewer candidates, 3.3x faster
        end-to-end at 500k docs) without re-admitting anything.

        Writes into FRESH roots rather than rewriting in place: an
        in-place overwrite of a path being read is both a Spark error
        and an operational hazard (a failed mid-rewrite leaves no
        corpus); the old roots remain intact as the rollback. Cost is
        one full re-shingle + re-hash of silver text — the only time
        the "corpus is never re-shingled" contract is deliberately
        broken, paid once per banding change (timed at x30 scale in
        SCALE_MEASURED.json: band_migration). Run it with no stream
        active, then point a runner configured with the new
        (num_hashes, bands) at the new SILVER root while
        KEEPING the original landing dir and checkpoint — epoch
        numbering must continue from the checkpoint, because a fresh
        checkpoint restarts epoch ids at 0 and the dynamic-overwrite
        replay contract would then clobber historical epoch
        partitions (tested). The pin check passes by construction and
        epoch replay isolation carries over (partitions preserved).

        Returns the number of docs migrated (0 when silver is empty —
        only the new pin is written, so a fresh deployment can start
        directly at the knee)."""
        n = self.n if n is None else n
        silver = read_epochs(spark, self.silver_path)
        count = 0
        if silver is not None:
            rekeyed = dd.minhash_band_keys(
                silver.drop("band_keys"),
                self.text_col,
                self.id_col,
                n,
                num_hashes,
                bands,
            )
            rewrite_epochs(rekeyed, dest_silver_path)
            count = spark.read.parquet(dest_silver_path).count()
        spark.createDataFrame(
            [(n, num_hashes, bands)], self._BANDING_PIN_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            dest_silver_path + "_banding"
        )
        return count

    # -- epoch compaction (maintenance) -----------------------------------

    def compact_epochs(
        self, spark: SparkSession, up_to_epoch: int | None = None
    ) -> dict:
        """Maintenance: fold committed epoch partitions into one.

        A long-lived deployment accretes one silver partition (plus one
        sem-index (cell, epoch) partition set) per micro-batch epoch —
        thousands of small files whose listing cost grows without bound,
        and whose epoch lists the coverage checks drive through
        distinct() scans. Folding every
        committed epoch below ``up_to_epoch`` (default: the max epoch
        present — the only partition a checkpoint replay can rewrite)
        into the SMALLEST folded epoch keeps corpus content
        byte-identical while bounding partition count.

        Replay isolation is preserved: the in-flight epoch's partition
        is never touched (reads exclude it by id, and it is never in
        the fold set), and the compaction target id is an
        already-committed epoch, so no future micro-batch or replay
        can collide with it. Crash-safe per store via a temp-write ->
        manifest -> delete -> rename protocol: an interrupted run is
        finished (temp committed) or rolled back (temp torn) by the
        next call. Local/posix store paths only — on a cluster, run
        the same fold as a batch job under an atomic-commit writer.

        Returns {"folded_epochs": n, "target": id, "rows": {...}} —
        folded_epochs 0 means there was nothing to compact."""
        stores = self._compactable_stores()
        for p, outer, _ in stores:
            recover_fold(p)
        # fold set from the UNION of both stores' epochs, not silver's
        # alone: a run interrupted between stores leaves silver folded
        # and the index not — the next call must still fold the index
        epochs = {p: stored_epochs(p, *outer) for p, outer, _ in stores}
        all_epochs = set().union(*epochs.values())
        silver_epochs = epochs[self.silver_path]
        if not silver_epochs:
            return {"folded_epochs": 0, "target": None, "rows": {}}
        cut = max(silver_epochs) if up_to_epoch is None else up_to_epoch
        fold = sorted(e for e in all_epochs if e < cut)
        if len(fold) < 2:
            return {"folded_epochs": 0, "target": None, "rows": {}}
        tgt = fold[0]
        rows = {
            os.path.basename(p.rstrip("/")) or p: fold_epochs(
                spark, p, fold, tgt, *outer, schema=schema
            )
            for p, outer, schema in stores
        }
        return {
            "folded_epochs": len(fold),
            "target": tgt,
            "rows": rows,
        }

    def _compactable_stores(self):
        """(path, outer partition cols, read schema) per epoch-
        partitioned store this instance owns. The sem drift record and
        ppl stores are epoch-stamped metrics/models, not corpus state —
        tiny, and their epoch ids carry meaning in reports — so they
        are deliberately not compacted."""
        stores = [(self.silver_path, (), None)]
        if self.sem_index_path is not None:
            stores.append(
                (self._sem_rows_path(), ("cell",),
                 self._sem_read_schema())
            )
        return stores

    # -- semantic (embedding-space) screen --------------------------------

    def _sem_rows_path(self) -> str:
        return os.path.join(self.sem_index_path, "index")

    def _sem_cents_path(self) -> str:
        return os.path.join(self.sem_index_path, "centroids")

    def _sem_stats_path(self) -> str:
        return os.path.join(self.sem_index_path, "train_stats")

    def _sem_drift_path(self) -> str:
        return os.path.join(self.sem_index_path, "drift")

    def _sem_marker_path(self) -> str:
        return os.path.join(self.sem_index_path, "RETRAIN_IN_PROGRESS")

    def _check_retrain_marker(self) -> None:
        """A torn retrain_sem_index leaves centroids/stats/index rows in
        a mixed generation — screening against that state would silently
        mis-join cells. The marker file makes the tear LOUD: it is
        written before the first overwrite and removed after the last,
        so its presence means 'some artifacts are new-generation, some
        old'. Recovery is re-running retrain_sem_index (every retrain
        output is deterministic from silver, so the re-run converges)."""
        if self.sem_index_path and os.path.exists(self._sem_marker_path()):
            raise RuntimeError(
                f"semantic index at {self.sem_index_path} has an "
                "unfinished retrain (RETRAIN_IN_PROGRESS marker present) "
                "— centroids, train stats and cell partitions may be "
                "from mixed generations. Re-run retrain_sem_index(spark) "
                "to completion before screening."
            )

    def _id_type(self) -> str:
        return self.schema[self.id_col].dataType.simpleString()

    def _sem_read_schema(self) -> str:
        """Pinned read schema for the at-rest semantic index; id and
        cell types derive from the landing schema (cell ids are seed
        doc ids), epoch pinned long: partition-type inference would read
        all-digit cell directories as INT and misjoin string ids."""
        t = self._id_type()
        return (
            f"{self.id_col} {t}, svec array<bigint>, norm double, "
            f"cell {t}, ingest_epoch long"
        )

    def _sem_index_has_rows(self, spark: SparkSession) -> bool:
        """True when the at-rest semantic index holds ANY admitted
        rows — the precondition under which retraining centroids is
        forbidden (see _sem_centroids)."""
        idx = self._read_sem_index(spark, exclude_epoch=None)
        return idx is not None and idx.first() is not None

    def _sem_centroids(
        self, spark: SparkSession, emb: DataFrame
    ) -> DataFrame:
        """The pinned blocking centroids (cid, c_svec): read from disk,
        or — first use only — train deterministically on ``emb`` (one
        quantized Lloyd iteration from lowest-id seeds) and pin. A
        replayed first epoch retrains on the identical batch and
        produces byte-identical centroids, so the overwrite converges.

        Retraining is ONLY legal while the at-rest cell index is empty:
        the index's (cell=...) partitions were written under the pinned
        centroids, and centroids trained on a LATER batch would produce
        different cell ids — the corpus screen's join on 'cell' would
        silently miss and re-admit rephrased near-duplicates. So a
        missing/torn centroid file with a non-empty index RAISES
        (restore the file, or rebuild index + centroids together via
        backfill_sem_index after clearing both) instead of falling
        through to the convergent-overwrite path, which is sound for a
        replayed FIRST epoch only."""
        cpath = self._sem_cents_path()
        schema = f"cid {self._id_type()}, c_svec array<bigint>"
        try:
            cents = spark.read.schema(schema).parquet(cpath)
            # AnalysisException surfaces lazily; an empty frame means a
            # torn first-epoch write — fall through and retrain (the
            # deterministic training makes the overwrite convergent)
            if cents.first() is not None:
                return cents
        except AnalysisException:
            pass
        if self._sem_index_has_rows(spark):
            raise RuntimeError(
                f"semantic index at {self.sem_index_path} has admitted "
                "rows but its pinned centroids are missing or empty — "
                "retraining on the current batch would re-cell the "
                "blocking and silently mis-join the existing index. "
                "Restore the centroids parquet, or delete the index "
                "rows and rebuild both via backfill_sem_index(spark)."
            )
        trained = sim.kmeans_train_centroids(
            emb,
            k=self.sem_k,
            iters=1,
            id_col=self.id_col,
            vec_col="embedding",
        )
        trained.write.mode("overwrite").parquet(cpath)
        return spark.read.schema(schema).parquet(cpath)

    def _embed_scaled(self, docs: DataFrame) -> DataFrame:
        """(id, embedding, q_svec, q_norm) for ``docs`` — hashing-trick
        embedding scaled to the int64 grid with the norm precomputed
        per VECTOR (never per pair). The raw embedding column rides
        along so the first-epoch centroid training consumes THIS frame
        instead of re-running the embed plan."""
        emb = tx.embed_text(
            docs,
            self.text_col,
            self.id_col,
            dim=_SEM_DIM,
            seed=_SEM_SEED,
        )
        return sim.attach_scaled(emb, "embedding", "q_").select(
            self.id_col, "embedding", "q_svec", "q_norm"
        )

    def _nearest_cells(
        self, scaled: DataFrame, cents: DataFrame, probes: int
    ) -> DataFrame:
        """Each (id, q_svec, q_norm) row replicated to its ``probes``
        nearest centroid cells (exact integer L2 against the broadcast
        k-row centroid frame; unrolled int64 under the unit-norm bound;
        cid tiebreak). cell_rank=1 is the doc's OWN cell; ``dist`` (the
        squared L2 on the int64 grid) rides along so the staleness
        signal can read assignment quality without a second pass."""
        # BOTH sides guarded against _SEM_DIM: pinned centroids written
        # under another width must fail loudly (the unrolled kernel
        # would otherwise silently truncate to the shorter array and
        # probe wrong cells)
        dist = sim._dim_guard(
            F.col("q_svec"),
            _SEM_DIM,
            sim._dim_guard(
                F.col("c_svec"),
                _SEM_DIM,
                sim.l2sq_scaled_unrolled(
                    F.col("q_svec"), F.col("c_svec"), _SEM_DIM,
                ),
            ),
        )
        w = Window.partitionBy(self.id_col).orderBy("dist", "cid")
        return (
            scaled.crossJoin(F.broadcast(cents))
            .withColumn("dist", dist)
            .withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") <= probes)
            .select(
                self.id_col,
                "q_svec",
                "q_norm",
                F.col("cid").alias("cell"),
                "cell_rank",
                "dist",
            )
        )

    def _unpack_svec(self, src_col: str, tag: str) -> list[Column]:
        """``_SEM_DIM`` primitive long columns ``_{tag}0.._{tag}{d-1}``
        from an int64-grid vector column — the pre-join projection that
        keeps PAIR scoring inside whole-stage codegen. The element_at
        chain evaluated ABOVE a join runs on the interpreted path (the
        batch engine measured 42.1 s vs 4.1 s for the same 9M candidate
        pairs — operators/similarity.py:embedding_near_dup_pairs); the
        unpack itself is one element_at per (row, dim) on the pre-join
        side, trivial next to the pair fan-out, and shuffled/broadcast
        bytes are unchanged (same dim longs, flat instead of boxed).
        _dim_guard rides the first column so a vector written under a
        different width still raises instead of silently truncating."""
        return [
            (
                sim._dim_guard(
                    F.col(src_col),
                    _SEM_DIM,
                    F.element_at(F.col(src_col), 1),
                )
                if i == 0
                else F.element_at(F.col(src_col), i + 1)
            ).alias(f"_{tag}{i}")
            for i in range(_SEM_DIM)
        ]

    def _unpacked_cosine(self, ta: str, tb: str, na, nb):
        """Cosine over unpacked columns: plain column sum-of-products,
        int64-exact (embed_text L2-normalizes, so on the 1e9 grid
        Cauchy-Schwarz bounds |dot| <= 1e18 — the norm-bound contract
        of similarity.l2sq_scaled_unrolled) — bit-identical to the
        array kernel it replaced, so admissions cannot move."""
        dot = F.col(f"_{ta}0") * F.col(f"_{tb}0")
        for i in range(1, _SEM_DIM):
            dot = dot + F.col(f"_{ta}{i}") * F.col(f"_{tb}{i}")
        return dot.cast("double") / (na * nb)

    def _read_sem_index(
        self, spark: SparkSession, exclude_epoch: int | None
    ) -> DataFrame | None:
        if self.sem_index_path is None:
            return None
        idx = read_epochs(
            spark, self._sem_rows_path(), self._sem_read_schema(),
            exclude_epoch,
        )
        return None if idx is None else idx.select(
            self.id_col, "svec", "norm", "cell"
        )

    def backfill_sem_index(self, spark: SparkSession) -> int:
        """Build semantic-index rows for every silver epoch missing
        from it — the one-time migration when enabling
        ``sem_index_path`` over a corpus admitted without it. Trains
        and pins centroids from the FULL silver corpus if none exist
        yet (deterministic). Returns the number of epochs backfilled."""
        if self.sem_index_path is None:
            raise ValueError("sem_index_path is not configured")
        self._check_retrain_marker()
        silver, missing = self._missing_epochs(spark)
        if not missing:
            return 0
        docs = silver.filter(F.col("ingest_epoch").isin(missing))
        scaled = self._embed_scaled(docs)
        cents = self._sem_centroids(
            spark, scaled.select(self.id_col, "embedding")
        )
        own = self._nearest_cells(scaled, cents, probes=1)
        overwrite_epochs(
            own.join(
                docs.select(self.id_col, "ingest_epoch"), self.id_col
            ).select(
                self.id_col,
                F.col("q_svec").alias("svec"),
                F.col("q_norm").alias("norm"),
                "cell",
                "ingest_epoch",
            ),
            self._sem_rows_path(),
            "cell",
        )
        self._sem_train_stats(spark, own)
        return len(missing)

    # -- centroid staleness: measured drift signal + explicit retrain -----

    # train_q90 appended later (nullable: legacy stats files read as
    # null and the q90 ratio simply stays unlogged until a retrain
    # re-pins both quantiles — no migration needed)
    _SEM_STATS_SCHEMA = "train_q50 double, n long, train_q90 double"
    # two quantile tracks: the MEDIAN ratio is robust to <50% batch
    # contamination (it only moves decisively once drifted docs are
    # the majority), while the P90 ratio responds to a drifted
    # MINORITY several times more strongly than the median (measured:
    # a 20%-drifted epoch moved ratio_q90 4x the median's move) — read
    # them together: q50 elevated = the batch is mostly off-
    # distribution; q90 moving ahead of q50 = a drifted minority
    _SEM_DRIFT_SCHEMA = (
        "n long, q50 double, train_q50 double, ratio double, "
        "q90 double, train_q90 double, ratio_q90 double, "
        "ingest_epoch long"
    )

    def _sem_train_stats(self, spark: SparkSession, own: DataFrame):
        """The pinned training-epoch assignment-quality reference:
        median rank-1 squared L2 (int64 grid) of the docs the centroids
        were trained over. Loaded from disk, or — first use, while the
        index is still empty — computed from ``own`` (the training
        epoch's rank-1 assignment, exactly the frame the index rows
        come from) and pinned. Deterministic from the batch, so a
        replayed training epoch overwrites convergently — the same
        story as the centroids themselves.

        A missing/torn stats file over a NON-empty index (pre-stats
        upgrade path, or a lost file) must NOT fall through to the
        ``own`` path: that would pin the current — possibly drifted —
        batch as its own baseline, so the staleness ratio reads ~1.0
        forever, exactly the silent degradation the signal exists to
        catch (the _sem_centroids guard, applied to stats). Instead the
        reference is recomputed from the AT-REST rows of the earliest
        index epoch: their stored cell is their rank-1 assignment under
        the pinned centroids, and the distance is the same int64-grid
        integer both times. The recomputed median is byte-identical to
        the original when the training epoch admitted every doc; the
        index stores ADMITTED docs only, so if that epoch contained
        semantic dups (dropped within-batch or vs-corpus), the
        recovery median is over the admitted subset — a sound
        approximation of the original pin, not a byte-exact replay.
        (For backfill-trained centroids — multi-epoch training set —
        the earliest epoch is a training-era subset; backfill writes
        the stats file itself, so this path only runs if that file was
        lost.)"""
        if self._sem_train_q50 is not None:
            return self._sem_train_q50, self._sem_train_q90
        path = self._sem_stats_path()
        try:
            row = spark.read.schema(self._SEM_STATS_SCHEMA).parquet(
                path
            ).first()
            if row is not None and row["train_q50"] is not None:
                self._sem_train_q50 = float(row["train_q50"])
                # legacy stats file: q90 stays None, its ratio unlogged
                self._sem_train_q90 = (
                    float(row["train_q90"])
                    if row["train_q90"] is not None
                    else None
                )
                return self._sem_train_q50, self._sem_train_q90
        except AnalysisException:
            pass
        if self._sem_index_has_rows(spark):
            ref = self._sem_train_stats_from_index(spark)
        else:
            ref = own.filter(F.col("cell_rank") == 1).select(
                F.col("dist").alias("train_dist")
            )
        agg = ref.agg(
            F.median("train_dist").cast("double").alias("train_q50"),
            F.count("*").alias("n"),
            F.percentile("train_dist", F.lit(0.9))
            .cast("double")
            .alias("train_q90"),
        )
        agg.write.mode("overwrite").parquet(path)
        row = spark.read.schema(self._SEM_STATS_SCHEMA).parquet(
            path
        ).first()
        if row is None or row["train_q50"] is None:
            raise RuntimeError(
                "semantic drift baseline could not be computed: the "
                "training frame produced no rank-1 assignments (empty "
                "training epoch). The staleness signal has no "
                "reference — refuse to fabricate one."
            )
        self._sem_train_q50 = float(row["train_q50"])
        self._sem_train_q90 = (
            float(row["train_q90"])
            if row["train_q90"] is not None
            else None
        )
        return self._sem_train_q50, self._sem_train_q90

    def _sem_train_stats_from_index(
        self, spark: SparkSession
    ) -> DataFrame:
        """(train_dist) rows rebuilt from the at-rest index's earliest
        epoch against the pinned centroids — the recovery source for a
        missing stats file (see _sem_train_stats). Raises, via
        _sem_centroids' own guard, if the centroids are missing too."""
        idx = spark.read.schema(self._sem_read_schema()).parquet(
            self._sem_rows_path()
        )
        first = idx.agg(F.min("ingest_epoch")).first()
        cents = self._sem_centroids(spark, emb=None)
        dist = sim._dim_guard(
            F.col("svec"),
            _SEM_DIM,
            sim._dim_guard(
                F.col("c_svec"),
                _SEM_DIM,
                sim.l2sq_scaled_unrolled(
                    F.col("svec"), F.col("c_svec"), _SEM_DIM,
                ),
            ),
        )
        return (
            idx.filter(F.col("ingest_epoch") == F.lit(first[0]))
            .join(
                F.broadcast(cents),
                F.col("cell") == F.col("cid"),
            )
            .select(dist.alias("train_dist"))
        )

    def _record_sem_drift(
        self, spark: SparkSession, own: DataFrame, epoch_id: int
    ) -> None:
        """The staleness signal, logged to the index: per batch, the
        median rank-1 assignment distance vs the pinned training
        epoch's — a drifting corpus lands farther from every trained
        centroid, so the ratio climbs as cell quality degrades (vectors
        pile into few cells; boundary misses rise). Epoch-partitioned
        with dynamic overwrite: a replayed epoch rewrites its own row.
        Each row carries the train_q50 it was measured AGAINST, so rows
        straddling a retrain stay self-describing."""
        train_q50, train_q90 = self._sem_train_stats(spark, own)
        row = own.filter(F.col("cell_rank") == 1).agg(
            F.count("*").alias("n"),
            F.median("dist").cast("double").alias("q50"),
            F.percentile("dist", F.lit(0.9))
            .cast("double")
            .alias("q90"),
        ).first()
        if row is None or row["n"] == 0 or row["q50"] is None:
            return
        ratio = (
            round(float(row["q50"]) / train_q50, 6)
            if train_q50
            else None
        )
        ratio_q90 = (
            round(float(row["q90"]) / train_q90, 6)
            if train_q90
            else None
        )
        overwrite_epochs(
            spark.createDataFrame(
                [
                    (
                        int(row["n"]),
                        float(row["q50"]),
                        float(train_q50),
                        ratio,
                        float(row["q90"]),
                        float(train_q90) if train_q90 else None,
                        ratio_q90,
                        int(epoch_id),
                    )
                ],
                self._SEM_DRIFT_SCHEMA,
            ).coalesce(1),
            self._sem_drift_path(),
        )

    def sem_drift_report(self, spark: SparkSession) -> DataFrame:
        """The logged per-epoch staleness signal (ingest_epoch, n, q50,
        train_q50, ratio, q90, train_q90, ratio_q90), epoch-ordered.
        ratio ~ 1 means batches land as close to the pinned centroids
        as the training corpus did; a sustained climb says the corpus
        has drifted off the trained cells — run retrain_sem_index. The
        two tracks discriminate partial drift: the median ratio only
        moves decisively once drifted docs are the batch MAJORITY,
        while ratio_q90 responds to a drifted minority several times
        more strongly (ratio_q90 is null for epochs measured against
        a pre-q90 stats file)."""
        if self.sem_index_path is None:
            raise ValueError("sem_index_path is not configured")
        return (
            spark.read.schema(self._SEM_DRIFT_SCHEMA)
            .parquet(self._sem_drift_path())
            .select(
                "ingest_epoch",
                "n",
                "q50",
                "train_q50",
                "ratio",
                "q90",
                "train_q90",
                "ratio_q90",
            )
            .orderBy("ingest_epoch")
        )

    def retrain_sem_index(
        self, spark: SparkSession, iters: int = 3
    ) -> int:
        """Maintenance op for a drifted corpus: retrain the blocking
        centroids on the FULL silver corpus, re-pin the training stats,
        and REMAP every at-rest index row to the new cells — the only
        legal way to change pinned centroids once the index holds rows
        (see _sem_centroids). Run it with the stream stopped, when
        sem_drift_report shows a sustained ratio climb.

        Crash safety: every output is deterministic from silver, and
        the RETRAIN_IN_PROGRESS marker brackets the overwrites — a torn
        retrain fails every subsequent screen loudly until the retrain
        is re-run to completion (which converges byte-identically).
        The index rewrite is a FULL (static) overwrite: remapping moves
        rows BETWEEN cell partitions, so dynamic overwrite would leave
        stale old-cell partitions behind. Returns the number of silver
        docs remapped."""
        if self.sem_index_path is None:
            raise ValueError("sem_index_path is not configured")
        silver = spark.read.parquet(self.silver_path)
        os.makedirs(self.sem_index_path, exist_ok=True)
        with open(self._sem_marker_path(), "w") as f:
            f.write(
                "retrain started; re-run retrain_sem_index(spark) "
                "to completion before screening\n"
            )
        scaled = self._embed_scaled(
            silver.select(self.id_col, self.text_col)
        ).persist()
        try:
            # more Lloyd iterations than the in-band first-epoch pin
            # (iters=1, priced inside a micro-batch): retrain is offline
            # maintenance, and a drifted mass needs >1 reassignment
            # round to migrate a centroid off the id-ordered seeds
            trained = sim.kmeans_train_centroids(
                scaled.select(self.id_col, "embedding"),
                k=self.sem_k,
                iters=iters,
                id_col=self.id_col,
                vec_col="embedding",
            )
            trained.write.mode("overwrite").parquet(
                self._sem_cents_path()
            )
            cents = spark.read.schema(
                f"cid {self._id_type()}, c_svec array<bigint>"
            ).parquet(self._sem_cents_path())
            own = self._nearest_cells(scaled, cents, probes=1).persist()
            try:
                agg = own.agg(
                    F.median("dist").cast("double").alias("train_q50"),
                    F.count("*").alias("n"),
                    F.percentile("dist", F.lit(0.9))
                    .cast("double")
                    .alias("train_q90"),
                )
                agg.write.mode("overwrite").parquet(
                    self._sem_stats_path()
                )
                _row = (
                    spark.read.schema(self._SEM_STATS_SCHEMA)
                    .parquet(self._sem_stats_path())
                    .first()
                )
                self._sem_train_q50 = float(_row["train_q50"])
                self._sem_train_q90 = (
                    float(_row["train_q90"])
                    if _row["train_q90"] is not None
                    else None
                )
                n = (
                    own.join(
                        silver.select(self.id_col, "ingest_epoch"),
                        self.id_col,
                    )
                    .select(
                        self.id_col,
                        F.col("q_svec").alias("svec"),
                        F.col("q_norm").alias("norm"),
                        "cell",
                        "ingest_epoch",
                    )
                )
                rewrite_epochs(n, self._sem_rows_path(), "cell")
                remapped = own.count()
            finally:
                own.unpersist()
        finally:
            scaled.unpersist()
        self._coverage_checked = False
        os.remove(self._sem_marker_path())
        return remapped

    def _semantic_screen(
        self,
        spark: SparkSession,
        survivors: DataFrame,
        corpus: DataFrame | None,
        epoch_id: int,
    ) -> DataFrame:
        """Screen shingle-stage survivors in embedding space; returns
        the semantically-novel survivors AND writes their index rows
        (the admitted set's cells must land atomically with the epoch,
        exactly like band keys). Within-batch: same rank-1 cell, drop
        the larger id. Vs corpus: each doc probes its _SEM_PROBES
        nearest cells; the index side is a partition-pruned scan joined
        against the BROADCAST probe frame — zero corpus shuffle, zero
        corpus re-embedding."""
        did = self.id_col
        self._check_retrain_marker()
        scaled = self._embed_scaled(survivors).persist()
        try:
            # first-epoch training reads the SAME persisted frame the
            # screen uses — no second embed plan
            cents = self._sem_centroids(
                spark, scaled.select(did, "embedding")
            )
            probed = self._nearest_cells(
                scaled, cents, probes=_SEM_PROBES
            ).persist()
            try:
                own = probed.filter(F.col("cell_rank") == 1)
                # staleness signal: this batch's rank-1 assignment
                # quality vs the pinned training epoch's, logged to the
                # index (one tiny agg over the persisted batch frame)
                self._record_sem_drift(spark, own, epoch_id)
                # pair scoring on UNPACKED primitive columns (see
                # _unpack_svec): the verify kernel is the hot path at
                # per-batch candidate volumes, and the unpacked shape
                # keeps it in codegen — admissions are bit-identical
                xa = own.select(
                    F.col(did).alias("id_a"),
                    F.col("q_norm").alias("na"),
                    "cell",
                    *self._unpack_svec("q_svec", "a"),
                )
                xb = own.select(
                    F.col(did).alias("id_b"),
                    F.col("q_norm").alias("nb"),
                    "cell",
                    *self._unpack_svec("q_svec", "b"),
                )
                wb_drop = (
                    xa.join(xb, "cell")
                    .filter(F.col("id_a") > F.col("id_b"))
                    .filter(
                        self._unpacked_cosine(
                            "a", "b", F.col("na"), F.col("nb")
                        )
                        >= F.lit(self.sem_threshold)
                    )
                    .select(F.col("id_a").alias(did))
                    .distinct()
                )
                drops = wb_drop
                idx = self._read_sem_index(spark, epoch_id)
                if corpus is not None and idx is not None:
                    self._check_coverage(spark, epoch_id)
                elif corpus is not None and idx is None:
                    raise RuntimeError(
                        f"semantic index {self.sem_index_path} is empty "
                        "but silver has admitted epochs — run "
                        "backfill_sem_index(spark) once before streaming."
                    )
                if idx is not None:
                    # probe side broadcast with vectors pre-unpacked
                    # (same bytes, flat longs); the index side unpacks
                    # in the Project above its partition-pruned scan,
                    # so corpus x probe scoring runs in codegen too
                    probe_side = F.broadcast(
                        probed.select(
                            F.col(did).alias("probe_id"),
                            "q_norm",
                            "cell",
                            *self._unpack_svec("q_svec", "q"),
                        )
                    )
                    corp_drop = (
                        idx.select(
                            "cell",
                            "norm",
                            *self._unpack_svec("svec", "x"),
                        )
                        .join(probe_side, "cell")
                        .filter(
                            self._unpacked_cosine(
                                "q", "x",
                                F.col("q_norm"), F.col("norm"),
                            )
                            >= F.lit(self.sem_threshold)
                        )
                        .select(F.col("probe_id").alias(did))
                        .distinct()
                    )
                    drops = drops.unionByName(corp_drop).distinct()
                kept = survivors.join(
                    F.broadcast(drops), did, "left_anti"
                )
                # index rows for the ADMITTED docs only (rank-1 cell);
                # a replayed epoch recomputes identical rows and the
                # dynamic overwrite replaces its own partitions
                overwrite_epochs(
                    own.join(
                        F.broadcast(kept.select(did)), did, "semi"
                    )
                    .select(
                        did,
                        F.col("q_svec").alias("svec"),
                        F.col("q_norm").alias("norm"),
                        "cell",
                    )
                    .withColumn("ingest_epoch", F.lit(int(epoch_id))),
                    self._sem_rows_path(),
                    "cell",
                )
                return kept
            finally:
                probed.unpersist()
        finally:
            scaled.unpersist()

    # -- per-batch screening ----------------------------------------------

    # -- pinned-LM perplexity gate -------------------------------------

    def _ppl_costs_path(self) -> str:
        return os.path.join(self.ppl_model_path, "costs")

    def _ppl_stats_path(self) -> str:
        return os.path.join(self.ppl_model_path, "stats")

    # "frac" pins the cost table's fixlog grid (log2, 2^-frac); a
    # pre-fixlog micro-nat model has none and fails the config check
    _PPL_STATS_SCHEMA = (
        "t1 double, t2 double, buckets long, seed string, "
        "frac long, smooth long, n_train_bigrams long"
    )

    def train_ppl_model(
        self,
        spark: SparkSession,
        target_df: DataFrame,
        target_text_col: str = "text",
        cuts_df: DataFrame | None = None,
        cuts_text_col: str | None = None,
        exact_cuts: bool = True,
        accuracy: int = 10_000,
    ) -> None:
        """Train and PIN the gate's LM: the full-domain B-row cost
        table from ``target_df`` (the trusted corpus — CCNet's
        Wikipedia role) and the head/middle/tail cuts from scoring
        ``cuts_df`` (default: the target itself; pass a reference
        crawl sample to calibrate the split on in-distribution
        traffic). Overwrites any previous model — deliberate retrain
        semantics, see the ppl_rejects_path config note.
        ``exact_cuts=False`` uses the GK sketch for the tercile aggregate
        (the 100 TB path, see selection.tercile_cuts)."""
        if self.ppl_model_path is None:
            raise ValueError("train_ppl_model requires ppl_model_path")
        costs = sel.lm_ppl_cost_table(
            target_df,
            text_col=target_text_col,
            buckets=sel.PPL_BUCKETS,
            smooth=sel.PPL_SMOOTH,
            seed=sel.PPL_SEED,
        )
        costs.write.mode("overwrite").parquet(self._ppl_costs_path())
        # score the cuts frame against the AT-REST table (what batches
        # will see), never the in-flight plan
        at_rest = spark.read.schema("bucket long, nl long").parquet(
            self._ppl_costs_path()
        )
        ref = cuts_df if cuts_df is not None else target_df
        scores = sel.lm_ppl_score_with_costs(
            ref.select(
                F.monotonically_increasing_id().alias("__cid"),
                F.col(cuts_text_col or target_text_col).alias("__ct"),
            ),
            at_rest,
            text_col="__ct",
            id_col="__cid",
            buckets=sel.PPL_BUCKETS,
            seed=sel.PPL_SEED,
        ).filter(F.col("mnll").isNotNull())
        t1, t2 = sel.tercile_cuts("mnll", exact_cuts, accuracy)
        stats = scores.agg(
            t1.cast("double").alias("t1"),
            t2.cast("double").alias("t2"),
            F.lit(sel.PPL_BUCKETS).cast("long").alias("buckets"),
            F.lit(sel.PPL_SEED).alias("seed"),
            F.lit(sel.PPL_FRAC).cast("long").alias("frac"),
            F.lit(sel.PPL_SMOOTH).cast("long").alias("smooth"),
            F.sum("n_bigrams").cast("long").alias("n_train_bigrams"),
        )
        stats.write.mode("overwrite").parquet(self._ppl_stats_path())
        row = spark.read.schema(self._PPL_STATS_SCHEMA).parquet(
            self._ppl_stats_path()
        ).first()
        if row is None or row["t1"] is None:
            raise RuntimeError(
                "ppl gate cuts could not be computed: the cuts frame "
                "produced no scoreable documents (every doc < 2 "
                "words). The gate has no split to apply — refuse to "
                "fabricate one."
            )

    def _ppl_model(
        self, spark: SparkSession
    ) -> tuple[DataFrame, float, float]:
        """Memoized pinned LM. Raises if train_ppl_model has not run —
        a gate with no model must fail loudly, not invent a flat LM
        that silently admits everything."""
        if self._ppl_pinned is not None:
            return self._ppl_pinned
        row = None
        if self.ppl_model_path is not None:
            try:
                row = spark.read.schema(self._PPL_STATS_SCHEMA).parquet(
                    self._ppl_stats_path()
                ).first()
            except AnalysisException:
                pass
        if row is None or row["t1"] is None:
            raise RuntimeError(
                "ppl_rejects_path is set but there is no pinned LM at "
                f"{self.ppl_model_path!r}: run train_ppl_model first"
            )
        pinned = (row["buckets"], row["seed"], row["frac"],
                  row["smooth"])
        configured = (
            sel.PPL_BUCKETS, sel.PPL_SEED, sel.PPL_FRAC, sel.PPL_SMOOTH
        )
        if pinned != configured:
            raise RuntimeError(
                "ppl gate config mismatch: the at-rest model was "
                f"trained with (buckets, seed, frac, smooth)={pinned} "
                f"but this instance is configured with {configured}; "
                "scoring batches with mismatched hashing (or a "
                "pre-fixlog micro-nat model, frac=NULL) would be "
                "silently meaningless — retrain or fix the config"
            )
        costs = spark.read.schema("bucket long, nl long").parquet(
            self._ppl_costs_path()
        )
        self._ppl_pinned = (costs, float(row["t1"]), float(row["t2"]))
        return self._ppl_pinned

    def _curation_gates(
        self, batch: DataFrame, epoch_id: int
    ) -> tuple[DataFrame, DataFrame | None]:
        """Apply the opt-in PII scrub and the gates whose rejects path is
        set — repetition, Gopher rule battery, perplexity — to a
        micro-batch (see the config-field note).
        Gate order mirrors the batch pipeline: scrub FIRST so every
        gate (and every downstream hash) sees the text that would be
        trained on. Returns (gated batch,
        persisted handle to unpersist after the sink — the scrub chain
        feeds the repetition signals, the dedup hash, AND the shingle
        pass, and without a persist barrier CollapseProject re-inlines
        the 5-stage regex chain into every consumer)."""
        handle: DataFrame | None = None
        if self.pii_scrub:
            batch = tx.scrub_text(batch, self.text_col).persist()
            handle = batch
        txt, did = self.text_col, self.id_col
        if self.rejects_path is not None:
            bad = tx.repetition_gate(batch, txt, did).filter(~F.col("keep"))
            batch = self._reject(
                batch, bad.drop("keep"), self.rejects_path, epoch_id
            )
        if self.gopher_rejects_path is not None:
            # the battery's composite keep is one of its stored columns
            bad = tx.gopher_gate(batch, txt, did).filter(~F.col("keep"))
            batch = self._reject(
                batch, bad, self.gopher_rejects_path, epoch_id
            )
        if self.ppl_rejects_path is not None:
            costs, t1, t2 = self._ppl_model(batch.sparkSession)
            scores = sel.lm_ppl_score_with_costs(
                batch,
                costs,
                text_col=txt,
                id_col=did,
                buckets=sel.PPL_BUCKETS,
                seed=sel.PPL_SEED,
            )
            bad = sel.ppl_gate(scores, (t1, t2)).filter(~F.col("keep"))
            batch = self._reject(
                batch, bad.drop("keep"), self.ppl_rejects_path, epoch_id
            )
        return batch, handle

    def _reject(
        self, batch: DataFrame, bad: DataFrame, path: str, epoch_id: int
    ) -> DataFrame:
        """Write one gate's rejects as this epoch's rows of its store and
        drop them from the batch."""
        write_epoch(bad, path, epoch_id)
        return batch.join(
            F.broadcast(bad.select(self.id_col)), self.id_col, "left_anti"
        )

    def _sink(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        txt, did = self.text_col, self.id_col
        self._check_banding_pin(spark)

        # 0. one row per id — the least by (text, other columns), so a
        #    replay admits the same one; two rows under one id would fan
        #    out in every join back on the id (the band keys, the gates)
        rest = [c for c in batch.columns if c not in (txt, did)]
        first = Window.partitionBy(did).orderBy(txt, *rest)
        batch = (
            batch.withColumn("__rn", F.row_number().over(first))
            .filter("__rn = 1")
            .drop("__rn")
        )

        # 0b. opt-in curation gates (PII scrub, rejects-path gates) —
        #    batch-local by construction, before any hashing
        batch, gate_handle = self._curation_gates(batch, epoch_id)

        # 1. within-batch exact: canonical (min-id) per content hash;
        #    content_hash is kept — it is part of the silver record
        b = (
            dd.dedup_exact(batch, txt, did)
            .filter(F.col("is_canonical"))
            .drop("canonical_id", "is_canonical")
        )
        # the admitted corpus as of this epoch: excluding the in-flight
        # epoch's own partition makes a replay see the pre-attempt state
        corpus = read_epochs(spark, self.silver_path, exclude=epoch_id)
        if corpus is not None:
            # 2. vs corpus, exact: re-delivered ids and known content.
            #    NOT a plain left_anti(batch, corpus): Spark cannot
            #    broadcast the LEFT side of an anti-join, so that plan
            #    sort-merge-SHUFFLES the whole corpus every micro-batch —
            #    measured as per-epoch cost ramping ~4x while the corpus
            #    grew 5x (tools/scale_stream.py). Instead broadcast the
            #    small batch key set, find the collisions with a map-only
            #    semi SCAN of the pruned corpus column (tiny result), and
            #    anti-join the batch against that — per-epoch corpus cost
            #    drops from two shuffles to two columnar scans.
            for key in (did, "content_hash"):
                hits = corpus.select(key).join(
                    F.broadcast(b.select(key).distinct()), key, "semi"
                )
                b = b.join(F.broadcast(hits), key, "left_anti")
        # one signature pass per batch; the stored band_keys array serves
        # the within-batch join, the corpus join, and the silver record
        b = dd.minhash_band_keys(
            b, txt, did, self.n, self.num_hashes, self.bands
        ).persist()
        try:
            batch_banded = dd.banded_from_keys(b, did)

            # 3. within-batch near-dup candidates, oriented DROP=id_a
            #    (the larger id), KEEP=id_b — uniform with the corpus
            #    candidates below, where id_a is always the batch doc
            capped, _ = dd.cap_buckets(
                batch_banded, ["band", "key"], _MAX_BUCKET
            )
            x, y = capped.alias("x"), capped.alias("y")
            wb_cands = (
                x.join(y, ["band", "key"])
                .filter(F.col(f"x.{did}") > F.col(f"y.{did}"))
                .select(
                    F.col(f"x.{did}").alias("id_a"),
                    F.col(f"y.{did}").alias("id_b"),
                )
                .distinct()
            )

            # 4. vs corpus near-dup candidates: stored band_keys on the
            #    corpus side — zero corpus text processing
            if corpus is not None:
                corp_cands = dd.minhash_lsh_join(
                    b,
                    corpus,
                    txt,
                    did,
                    self.n,
                    self.num_hashes,
                    self.bands,
                    max_bucket=_MAX_BUCKET,
                    left_banded_df=batch_banded,
                    right_banded_df=dd.banded_from_keys(corpus, did),
                    # |batch| << |corpus|: prune the corpus side to the
                    # batch's broadcast key set before the bucket-cap
                    # groupBy — otherwise that aggregation shuffles the
                    # full corpus every micro-batch
                    prune_right=True,
                )
                touched = corpus.join(
                    corp_cands.select(F.col("id_b").alias(did)).distinct(),
                    did,
                    "semi",
                ).select(did, txt)
                cands = wb_cands.unionByName(corp_cands)
                verify_docs = b.select(did, txt).unionByName(touched)
            else:
                cands = wb_cands
                verify_docs = b.select(did, txt)

            # exact-Jaccard verify over ONE shared row-local shingle-set
            # frame; local persist (released below) instead of
            # tracked_persist — a long-lived stream must not accumulate
            # cache entries
            sets = dd.shingle_sets(verify_docs, txt, did, self.n).persist()
            try:
                verified = dd.jaccard_verify_pairs(
                    verify_docs,
                    cands,
                    txt,
                    did,
                    self.n,
                    self.threshold,
                    sets_df=sets,
                    # the sets frame here is batch docs + touched
                    # corpus docs — bounded by batch size, so the
                    # broadcast plan the default shuffle_hash pin
                    # forbids is exactly right per micro-batch
                    sets_hint=None,
                )
                drop_ids = verified.select(
                    F.col("id_a").alias(did)
                ).distinct()
                survivors = b.join(drop_ids, did, "left_anti")
                if self.sem_index_path is not None:
                    # embedding-space screen over the shingle-stage
                    # survivors (rephrased dups have low Jaccard, so
                    # they reach here); also writes the admitted docs'
                    # semantic-index rows for this epoch
                    survivors = self._semantic_screen(
                        spark, survivors, corpus, epoch_id
                    )
                overwrite_epochs(
                    survivors.withColumn(
                        "ingest_epoch", F.lit(int(epoch_id))
                    ),
                    self.silver_path,
                )
            finally:
                sets.unpersist()
        finally:
            b.unpersist()
            if gate_handle is not None:
                gate_handle.unpersist()
