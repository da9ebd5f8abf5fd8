package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}

/** The shared micro-batch acceptance core behind the streaming
  * near-dup gates — [[NearDupGate]] (MinHash signatures, text) and
  * [[Hamming64Gate]] (64-bit perceptual/SimHash signatures: text,
  * image, audio). Both gates share the exact same state discipline
  * (documented in [[NearDupGate]]'s scaladoc): table-backed
  * band/bucket-blocked state, first-wins chain collapse, keeper
  * tagging in exact mode, idempotent batch-id-partitioned writes —
  * only the signature representation and the two join predicates
  * differ, so those arrive as parameters.
  */
private[graft] object SigGate {

  /** Shared with the batch keeper-dedup entry points — see
    * [[Dedup.defaultAutoStarPairsCap]] for the calibration.
    */
  val defaultAutoStarPairsCap: Long = Dedup.defaultAutoStarPairsCap

  /** [[Dedup.estIntraPairs]] — the EXACT occupancy aggregate, kept as
    * the streaming-facing name for specs and as
    * [[Dedup.materializeSigsProbed]]'s fallback. The gates themselves
    * no longer call it per batch: since round 14 the estimate rides
    * the signature materialization as F2 observe metrics
    * ([[Dedup.sigsWithStarDecision]] — zero extra jobs).
    */
  private[graft] def estIntraPairs(sigs: DataFrame): Long =
    Dedup.estIntraPairs(sigs)

  // The auto-star decision contract ([[Dedup.useStar]] /
  // [[Dedup.sigsWithStarDecision]] — every gate routes its banded
  // sigs through it): forced by the caller knob, or tripped by the
  // bucket-occupancy probe riding the signature materialization.
  // Deterministic for given batch contents. `cap = Long.MaxValue`
  // pins all-pairs semantics unconditionally (no estimate computed,
  // no probe node attached). The DRIVER-CHECKED replay queries
  // deliberately run the DEFAULT cap instead: their oracles stay
  // valid because the calibration (Dedup.defaultAutoStarPairsCap)
  // puts the oracle corpora orders of magnitude below the trip
  // point, and running defaults is the point — the hard gate
  // exercises exactly the configuration a production caller gets. A
  // trip is LOGGED (warn) so a data-dependent semantics switch is
  // observable, and the star semantics carry their own hash-exact
  // oracle rows (q_dedup_docs_star, q_stream_neardup_star, …).

  // Driver-resolve fast path caps (round 19): a micro-batch whose F2
  // probe estimates at most `pairsCap` intra-bucket candidate pairs
  // AND at most `bandRowsCap` banded signature rows (docs × bands —
  // the bound on what a collect of the batch side can return)
  // resolves keepers ON THE DRIVER: the banded signature rows and
  // the state-match keeper minima are collected (two jobs — the
  // state join still runs distributed, once), candidate generation +
  // verification + union-find + chain collapse run locally, and the
  // rejected set broadcasts back into map-only anti-joins. That
  // deletes the per-batch distributed resolution chain — the
  // multi-exchange candidate-pair plan (4 AQE stage-jobs measured),
  // the pair-frame localCheckpoint + count inside
  // connectedComponents, its per-partition toLocalIterator jobs, and
  // the keeper-resolution localCheckpoint — which together put a
  // ~215-doc micro-batch at 12-15 scheduler round-trips (the
  // round-19 gate-tick decomposition; 60% of a curate tick at
  // sf0.1). Estimates ride metrics already materialized, so the
  // DECISION costs zero jobs; the F2 error band (25% std / measured
  // factor-2 worst case — F2ProbeSpec) only moves collect sizes,
  // never correctness (a hard in-loop candidate cap falls back to
  // the distributed path if an estimate was badly wrong), and both
  // caps are conf knobs so a deployment can retune or disable (0)
  // them. Acceptance and state are BIT-IDENTICAL to the distributed
  // path: the same (band, bucket) grouping (collected, not
  // recomputed), the same verify arithmetic, the same min-label
  // components and min-keeper chain collapse — pinned by
  // SigGateDriverResolveSpec against the forced distributed form.
  private val pairsCapKey = "spark.graft.streaming.driverResolve.pairsCap"
  private val bandRowsCapKey = "spark.graft.streaming.driverResolve.bandRowsCap"
  private val defaultPairsCap = 1L << 18
  private val defaultBandRowsCap = 1L << 22

  /** Spec hook: batches resolved on the driver this JVM — parity
    * tests assert the fast path actually ENGAGED, so a silently
    * declining route can never make driver-vs-distributed comparisons
    * vacuous (round-19 advice).
    */
  private[graft] val driverResolved = new java.util.concurrent.atomic.AtomicLong

  /** One micro-batch acceptance step over pre-banded signatures.
    *
    * @param bandedSigs this batch's `(doc_id, sig, band, bucket)`
    *                   rows, MATERIALIZED by the caller (joined twice
    *                   below)
    * @param state      prior-batch state rows `(doc_id, sig, band,
    *                   bucket, keeper, …)`, already filtered to
    *                   batches strictly before `batchId`
    * @param matchCond  the cross-history match predicate over aliases
    *                   `a` (batch) and `s` (state)
    * @param intraPairs intra-batch candidate pairs `(id_a, id_b, …)`
    * @param probe      the F2 estimate thunk riding the signature
    *                   materialization, when one did (sizes the
    *                   driver-resolve fast path at zero jobs; None
    *                   keeps the distributed resolution)
    * @param compact    the compact `(doc_id, sig)` cut when the
    *                   caller holds one (skips re-compacting
    *                   `bandedSigs` for the state write)
    * @param driverVerify the gate's pair-verification predicate over
    *                   two collected signature values — the exact
    *                   driver replica of the Column form inside
    *                   `intraPairs` (est-Jaccard / Hamming). Required
    *                   (with `probe`) for the driver fast path; None
    *                   keeps the distributed resolution
    * @param starPairs  whether `intraPairs` is the hub-star form (the
    *                   driver replica generates hub candidates per
    *                   bucket instead of all pairs)
    * @param compactBanded the PER-DOC banded projection
    *                   `(doc_id, sig, __bb array<struct<band,bucket>>)`
    *                   when the caller can build one off its compact
    *                   cut (round 20 — the round-19 advice's
    *                   byte-bound): the driver fast path then collects
    *                   each doc's signature ONCE instead of ×bands
    *                   copies through the exploded banded frame — for
    *                   64-lane array signatures that is ~16× fewer
    *                   collected bytes, which is what actually bounds
    *                   driver heap (bandRowsCap bounds ROWS). The
    *                   `__bb` values must be the same banding
    *                   expression `bandedSigs` exploded, so the
    *                   candidate set is identical by construction.
    *                   Scalar-signature gates (40-byte banded rows)
    *                   can keep None
    * @return the accepted subset of `batch`; commits this batch's
    *         signature rows (accepted-only, or all keeper-tagged when
    *         `exact`) under `stateDir/batch_id=batchId`
    */
  def acceptBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      bandedSigs: DataFrame,
      state: DataFrame,
      matchCond: Column,
      intraPairs: DataFrame,
      stateDir: String,
      exact: Boolean,
      probe: Option[Dedup.SigEst] = None,
      compact: Option[DataFrame] = None,
      driverVerify: Option[(Any, Any) => Boolean] = None,
      starPairs: Boolean = false,
      compactBanded: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val compactDf = compact.getOrElse(
      bandedSigs.select(col("doc_id"), col("sig")).dropDuplicates("doc_id"))
    val idType = bandedSigs.schema(
      bandedSigs.columns.indexOf("doc_id")).dataType
    val driverableId = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    val pairsCap = spark.conf.getOption(pairsCapKey)
      .map(_.toLong).getOrElse(defaultPairsCap)
    val bandRowsCap = spark.conf.getOption(bandRowsCapKey)
      .map(_.toLong).getOrElse(defaultBandRowsCap)
    val small = driverableId && driverVerify.isDefined &&
      pairsCap > 0 && bandRowsCap > 0 &&
      probe.exists(e => e() <= pairsCap && e.bandRows() <= bandRowsCap)
    val driverResult =
      if (small)
        acceptBatchDriver(batch, batchId, idCol, bandedSigs, state, matchCond,
          stateDir, exact, compactDf, idType, driverVerify.get, starPairs,
          hardPairsCap = math.max(pairsCap * 4, 1L << 20),
          compactBanded = compactBanded)
      else None
    driverResult.getOrElse(
      acceptBatchDistributed(batch, batchId, idCol, bandedSigs, state,
        matchCond, intraPairs, stateDir, exact, compactDf))
  }

  /** The distributed resolution (the pre-round-19 form, unchanged):
    * state-match keeper minima, CC over the intra pairs, component
    * keeper collapse — all as Spark jobs, with the resolution
    * materialized once because it anchors both the accepted output
    * and the state write. The scale path: nothing here collects
    * batch-proportional data to the driver.
    */
  private def acceptBatchDistributed(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      bandedSigs: DataFrame,
      state: DataFrame,
      matchCond: Column,
      intraPairs: DataFrame,
      stateDir: String,
      exact: Boolean,
      compactDf: DataFrame): DataFrame = {
    // Stream-history matches resolved to the matched doc's KEEPER
    // (for accepted state rows keeper = the doc itself; in exact mode
    // a rejected row hands over its accepted keeper, so chains
    // resolve transitively without walking them). min() makes the
    // multi-match case deterministic.
    val extKeeper = bandedSigs.as("a").join(state.as("s"), matchCond)
      .select(col("a.doc_id").as("id"), col("s.keeper").as("k"))
      .groupBy("id").agg(min(col("k")).as("ext_keeper"))
    // Intra-batch duplicate components (same CC as the batch ops);
    // docs in no candidate pair are their own singleton component.
    val comp = Dedup.connectedComponents(intraPairs)
    val compFull = bandedSigs.select(col("doc_id").as("id")).distinct()
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    // A component keeper: the earliest state keeper any member
    // touches (the component joins an existing chain — batch CC would
    // have merged them, so ALL members reject), else the component's
    // min id (its root, the only accepted member).
    val compKeeper = compFull.join(extKeeper, Seq("id"), "left")
      .groupBy("component").agg(min(col("ext_keeper")).as("ek"))
      .select(col("component"), coalesce(col("ek"), col("component")).as("keeper"))
    // Materialized: `resolved` anchors BOTH the accepted output and
    // the state write — un-cut, each would re-run the state join
    // (the gate's most expensive stage).
    val resolved = Materialize(compFull.join(compKeeper, "component")
      .select(col("id"), col("keeper")))
    val rejected = resolved.filter(col("id") =!= col("keeper"))
    val accepted = batch.join(rejected, batch(idCol) === rejected("id"), "left_anti")
    // State is written COMPACT — one (doc_id, sig, keeper) row per
    // doc; band/bucket rows are derivable from the signature and the
    // reader re-expands them (NearDupGate.bandState / the gates'
    // banding passes). Persisting the banded form multiplied state
    // bytes ×bands: the signature is the bulk of each row, and
    // exact-mode state is corpus-sized at stream scale.
    val stateOut =
      if (exact)
        compactDf.join(resolved, compactDf("doc_id") === resolved("id"))
          .select(compactDf("doc_id"), col("sig"), col("keeper"))
      else
        compactDf.join(rejected, compactDf("doc_id") === rejected("id"), "left_anti")
          .withColumn("keeper", col("doc_id"))
    writeState(stateOut, batchId, stateDir)
    accepted
  }

  /** The small-batch driver resolution: collect the batch's banded
    * signature rows and the per-doc state-match keeper minima (two
    * jobs — the state join still runs distributed, exactly once),
    * generate + verify the intra-batch candidate pairs locally from
    * the SAME collected (band, bucket) values the distributed
    * self-join would group on, then run the SAME min-label union-find
    * + min-keeper chain collapse and broadcast the rejected
    * `(id, keeper)` set back. Semantics are the distributed path's,
    * verbatim: candidates = distinct pairs sharing a bucket (hub
    * pairs in star mode), verified once per pair by the gate's
    * predicate; a doc rejects iff its component touches state
    * (keeper = the earliest touched state keeper) or it is not its
    * component's min id. Returns None (fall back to the distributed
    * path) if candidate generation overruns `hardPairsCap` — the
    * probe estimate was pathologically low.
    */
  private def acceptBatchDriver(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      bandedSigs: DataFrame,
      state: DataFrame,
      matchCond: Column,
      stateDir: String,
      exact: Boolean,
      compactDf: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      verify: (Any, Any) => Boolean,
      starPairs: Boolean,
      hardPairsCap: Long,
      compactBanded: Option[DataFrame]): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = batch.sparkSession
    val ord: Ordering[Any] = idType match {
      // UTF-8 byte order, unsigned — UTF8String.compareTo's binary
      // order, which is what the distributed min()/min_by hub/root
      // selection uses; java.lang.String's UTF-16 order diverges for
      // supplementary characters (round-19 advice)
      case StringType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val ba = a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bb = b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(ba.length, bb.length)
          while (i < n) {
            val d = (ba(i) & 0xFF) - (bb(i) & 0xFF)
            if (d != 0) return d
            i += 1
          }
          ba.length - bb.length
        }
      }
      case _ => Ordering.Long.on[Any](_.asInstanceOf[Number].longValue)
    }
    // job 1: the batch's signatures + band/bucket values. Preferred
    // form: the caller's per-doc compactBanded projection — each sig
    // collects ONCE with its banding array (÷bands bytes vs the
    // exploded frame; the byte bound behind bandRowsCap's row bound).
    // Fallback: the exploded banded rows (scalar-sig gates). Either
    // way the (band, bucket) values are the exact values the
    // distributed self-join would equi-join on, so the candidate set
    // is identical by construction (collisions included).
    val docSig = scala.collection.mutable.HashMap.empty[Any, Any]
    val groups = scala.collection.mutable.HashMap
      .empty[(Any, Any), scala.collection.mutable.ArrayBuffer[Any]]
    var sawNull = false
    compactBanded match {
      case Some(cb) =>
        cb.collect().foreach { row =>
          val id = row.get(0)
          if (id == null || row.isNullAt(1) || row.isNullAt(2)) sawNull = true
          else {
            docSig.update(id, row.get(1))
            row.getSeq[org.apache.spark.sql.Row](2).foreach { b =>
              groups.getOrElseUpdate((b.get(0), b.get(1)),
                scala.collection.mutable.ArrayBuffer.empty[Any]) += id
            }
          }
        }
      case None =>
        bandedSigs
          .select(col("doc_id"), col("sig"), col("band"), col("bucket"))
          .collect().foreach { row =>
            val id = row.get(0)
            if (id == null || row.isNullAt(1)) sawNull = true
            else {
              docSig.update(id, row.get(1))
              groups.getOrElseUpdate((row.get(2), row.get(3)),
                scala.collection.mutable.ArrayBuffer.empty[Any]) += id
            }
          }
    }
    if (sawNull) {
      // a null id NPEs local min/union-find, a null signature or
      // banding array NPEs candidate generation, and the distributed
      // path defines null semantics through join predicates (nulls
      // never pair, exact-mode state drops them) — route
      // out-of-contract batches there instead of replicating null
      // algebra here
      org.slf4j.LoggerFactory.getLogger("graft.SigGate").warn(
        "driver-resolve: null doc_id or signature in batch — falling " +
          "back to the distributed resolution for this batch")
      return None
    }
    val cand = scala.collection.mutable.HashSet.empty[(Any, Any)]
    var overflow = false
    val groupIter = groups.valuesIterator
    while (groupIter.hasNext && !overflow) {
      val members = groupIter.next()
      if (members.length > 1) {
        if (starPairs) {
          val hub = members.min(ord)
          members.foreach { m =>
            if (m != hub) cand += ((hub, m))
          }
        } else {
          val sorted = members.sorted(ord)
          var i = 0
          while (i < sorted.length && !overflow) {
            var j = i + 1
            while (j < sorted.length) {
              cand += ((sorted(i), sorted(j)))
              j += 1
            }
            if (cand.size > hardPairsCap) overflow = true
            i += 1
          }
        }
        if (cand.size > hardPairsCap) overflow = true
      }
    }
    if (overflow) {
      org.slf4j.LoggerFactory.getLogger("graft.SigGate").warn(
        s"driver-resolve: candidate generation overran hardPairsCap=" +
          s"$hardPairsCap (probe underestimated) — falling back to the " +
          "distributed resolution for this batch")
      return None
    }
    val pairSeq = cand.iterator.filter { case (a, b) =>
      verify(docSig(a), docSig(b))
    }.toSeq
    // job 2: per-doc min state keeper (≤ one row per batch doc)
    val extRows = bandedSigs.as("a").join(state.as("s"), matchCond)
      .select(col("a.doc_id").as("id"), col("s.keeper").as("k"))
      .groupBy("id").agg(min(col("k")).as("ext_keeper"))
      .collect()
    // min-label union-find (the driverComponents discipline: union by
    // min root, so every root is its component's minimum id)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairSeq.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ord.lt(ra, rb)) parent(rb) = ra
      else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    // chain collapse: per component, the min ext keeper any member
    // touches (else the component root). Docs in neither structure
    // are untouched singletons — keeper = self, never rejected, so
    // they need no entry at all.
    val ext = scala.collection.mutable.HashMap.empty[Any, Any]
    extRows.foreach { row =>
      val k = row.get(1)
      if (k != null) ext.update(row.get(0), k)
    }
    val compEk = scala.collection.mutable.HashMap.empty[Any, Any]
    val involved = (parent.keysIterator ++ ext.keysIterator).toSet
    involved.foreach { id =>
      val c = if (parent.contains(id)) find(id) else id
      ext.get(id).foreach { k =>
        compEk.updateWith(c) {
          case Some(old) => Some(if (ord.lt(k, old)) k else old)
          case None => Some(k)
        }
      }
    }
    val outType = if (idType == StringType) StringType else LongType
    // narrower integral ids normalize to boxed Long so the local
    // relation's values match its declared LongType (the
    // connectedComponents cast-to-long discipline)
    def norm(x: Any): Any =
      if (outType == StringType) x
      else Long.box(x.asInstanceOf[Number].longValue)
    val rejectedSeq = involved.iterator.flatMap { id =>
      val c = if (parent.contains(id)) find(id) else id
      val keeper = compEk.getOrElse(c, c)
      if (keeper == id) None
      else Some(org.apache.spark.sql.Row(norm(id), norm(keeper)))
    }.toSeq.sortBy(_.get(0))(ord)
    val rejectedDf = spark.createDataFrame(rejectedSeq.asJava,
      StructType(Seq(StructField("id", outType), StructField("keeper", outType))))
    // rejected is a broadcast local relation: the accepted anti-join
    // and both state-write joins below are map-only — no shuffle, no
    // resolution localCheckpoint.
    val accepted =
      if (rejectedSeq.isEmpty) batch
      else batch.join(broadcast(rejectedDf),
        batch(idCol) === rejectedDf("id"), "left_anti")
    val stateOut =
      if (rejectedSeq.isEmpty)
        compactDf.withColumn("keeper", col("doc_id"))
      else if (exact)
        // only rejected docs resolve away from themselves, so the
        // inner join against full `resolved` collapses to a left
        // join against the rejected set + coalesce
        compactDf.join(broadcast(rejectedDf),
            compactDf("doc_id") === rejectedDf("id"), "left")
          .select(compactDf("doc_id"), col("sig"),
            coalesce(col("keeper"), col("doc_id")).as("keeper"))
      else
        compactDf.join(broadcast(rejectedDf),
            compactDf("doc_id") === rejectedDf("id"), "left_anti")
          .withColumn("keeper", col("doc_id"))
    // driver-resolved batches are small by the cap that routed them
    // here: commit ONE state file per batch instead of a near-empty
    // shard per shuffle partition (readState merges every batch's
    // files forever, and each extra file is a commit-protocol rename
    // per tick). The distributed path keeps default partitioning —
    // its batches can be arbitrarily large.
    writeState(stateOut.coalesce(1), batchId, stateDir)
    driverResolved.incrementAndGet()
    Some(accepted)
  }

  private def writeState(
      stateOut: DataFrame, batchId: Long, stateDir: String): Unit =
    stateOut
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(stateDir)
}
