package graft

import graft.streaming.BudgetGate

/** The round-20 BudgetGate small-batch driver fast path: acceptance
  * and state resolved from the collected `(group, idHash, id, tokens)`
  * projection must be BIT-IDENTICAL to the distributed window+join
  * resolution — same accepted sets, same per-group spent deltas, batch
  * by batch, including the budget-boundary rows, cross-batch spent
  * chaining, null groups and null token counts. The distributed form
  * is forced by zeroing the rowsCap conf; the non-forced runs ASSERT
  * the fast path engaged (via the routing counter), so the comparison
  * can never be distributed-vs-distributed vacuity.
  */
class BudgetGateDriverResolveSpec extends SparkSpecBase {

  import spark.implicits._

  private val rowsCapKey = "spark.graft.streaming.budgetDriverResolve.rowsCap"

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // groups: en under pressure (boundary rows), de comfortable, a null
  // group (prior-join semantics: never matches, fresh budget each
  // batch), and null token counts (ride free)
  private def batches = Seq(
    Seq((1L, Some("en"), Some(40L)), (2L, Some("en"), Some(40L)),
      (3L, Some("en"), Some(40L)), (10L, Some("de"), Some(10L)),
      (20L, Option.empty[String], Some(60L)),
      (30L, Some("en"), Option.empty[Long])),
    Seq((4L, Some("en"), Some(1L)), (11L, Some("de"), Some(85L)),
      (12L, Some("de"), Some(85L)),
      (21L, Option.empty[String], Some(60L))),
    Seq((5L, Some("en"), Some(100L)), (13L, Some("de"), Some(1L)),
      (40L, Some("fr"), Some(100L))))
      .map(_.toDF("doc_id", "grp_col", "n_tokens"))

  private def run(forceDistributed: Boolean)
      : (Seq[Set[Long]], Set[(String, Long, Long)]) = {
    val prev = spark.conf.getOption(rowsCapKey)
    if (forceDistributed) spark.conf.set(rowsCapKey, "0")
    val before = BudgetGate.driverResolved.get()
    try {
      val state = tmp("bgdr_state")
      val accepted = batches.zipWithIndex.map { case (b, id) =>
        BudgetGate.acceptBatch(b, id.toLong, "grp_col", "doc_id",
            "n_tokens", state, budget = 100L)
          .select("doc_id").as[Long].collect().toSet
      }
      val stateRows = BudgetGate.readState(spark, state)
        .collect()
        .map(r => (if (r.isNullAt(0)) null else r.getString(0),
          r.getLong(1), r.getLong(2))).toSet
      val resolved = BudgetGate.driverResolved.get() - before
      if (forceDistributed)
        assert(resolved === 0L, "forced-distributed run must never route to the driver")
      else
        assert(resolved === batches.size.toLong,
          s"fast path must engage on every batch (engaged $resolved)")
      (accepted, stateRows)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(rowsCapKey, v)
        case None => spark.conf.unset(rowsCapKey)
      }
    }
  }

  test("driver-resolve ≡ distributed: accepted sets and state deltas, 3 chained batches") {
    val (accD, stateD) = run(forceDistributed = false)
    val (accX, stateX) = run(forceDistributed = true)
    assert(accD === accX)
    assert(stateD === stateX)
    // the scenario actually rejects rows (parity over all-accepted
    // would prove nothing) and exercises the null group both batches
    assert(accD.flatten.size < batches.map(_.count()).sum)
    assert(stateD.exists(_._1 == null))
  }

  test("replayed batch id: memo declines, state parity holds (idempotent overwrite)") {
    val state = tmp("bgdr_replay")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[Long].collect().toSet
    val a0 = step(batches(0), 0L)
    val a1 = step(batches(1), 1L)
    // crash-replay of batch 1: the memo's next-batch guard misses
    // (it expects batch 2) and the parquet aggregate takes over
    val a1r = step(batches(1), 1L)
    assert(a1r === a1)
    val a2 = step(batches(2), 2L)
    // full-distributed reference over the same sequence incl. replay
    val prev = spark.conf.getOption(rowsCapKey)
    spark.conf.set(rowsCapKey, "0")
    try {
      val stateX = tmp("bgdr_replay_x")
      def stepX(b: org.apache.spark.sql.DataFrame, id: Long) =
        BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
          stateX, budget = 100L).select("doc_id").as[Long].collect().toSet
      assert(stepX(batches(0), 0L) === a0)
      assert(stepX(batches(1), 1L) === a1)
      assert(stepX(batches(1), 1L) === a1)
      assert(stepX(batches(2), 2L) === a2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(rowsCapKey, v)
        case None => spark.conf.unset(rowsCapKey)
      }
    }
  }

  test("out-of-band state rewrite invalidates the prior memo (fingerprint guard)") {
    val state = tmp("bgdr_ext")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[Long].collect().toSet
    step(Seq((1L, Some("en"), Some(90L))).toDF("doc_id", "grp_col", "n_tokens"), 0L)
    // another process wipes batch 0's spend — the memo must not serve it
    val p = java.nio.file.Paths.get(state, "batch_id=0")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    val a1 = step(
      Seq((2L, Some("en"), Some(90L)), (3L, Some("en"), Some(90L)))
        .toDF("doc_id", "grp_col", "n_tokens"), 1L)
    // with batch 0 gone, en's prior is 0: first row fits, second's
    // before = 90 < 100 fits too — a stale memo (prior 90) would have
    // rejected the second
    assert(a1.size === 2)

    // an in-place rewrite of a part file inside batch_id=0 changes no
    // directory entry (names and dir mtimes stay) — only the leaf
    // file's own (mtime, length) can reveal it
    val inPlace = tmp("bgdr_inplace")
    def stepIn(dir: String, b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        dir, budget = 100L).select("doc_id").as[Long].collect().toSet
    stepIn(inPlace, Seq((1L, Some("en"), Some(90L))).toDF("doc_id", "grp_col", "n_tokens"), 0L)
    // the replacement bytes: the same batch spending 5, written elsewhere
    val other = tmp("bgdr_inplace_src")
    stepIn(other, Seq((1L, Some("en"), Some(5L))).toDF("doc_id", "grp_col", "n_tokens"), 0L)
    def partFiles(dir: String) = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "batch_id=0"))
      try s.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    def crc(f: java.nio.file.Path) = f.resolveSibling(s".${f.getFileName}.crc")
    val Seq(target) = partFiles(inPlace)
    val Seq(source) = partFiles(other)
    val dirMtime = java.nio.file.Files.getLastModifiedTime(target.getParent)
    // overwrite the existing files' bytes (truncate + write, no rename)
    java.nio.file.Files.write(target, java.nio.file.Files.readAllBytes(source))
    java.nio.file.Files.write(crc(target), java.nio.file.Files.readAllBytes(crc(source)))
    assert(java.nio.file.Files.getLastModifiedTime(target.getParent) === dirMtime)
    val a2 = stepIn(inPlace,
      Seq((2L, Some("en"), Some(50L)), (3L, Some("en"), Some(50L)))
        .toDF("doc_id", "grp_col", "n_tokens"), 1L)
    // en's prior is now 5: both fit (before 5, then 55) — the stale
    // memo (prior 90) would have rejected the second (before 140)
    assert(a2 === Set(2L, 3L))
  }

  test("non-driverable shapes route distributed: string ids, disabled cap") {
    val before = BudgetGate.driverResolved.get()
    val state = tmp("bgdr_str")
    val b = Seq(("7", Some("en"), Some(40L)), ("8", Some("en"), Some(80L)))
      .toDF("doc_id", "grp_col", "n_tokens")
    val acc = BudgetGate.acceptBatch(b, 0L, "grp_col", "doc_id", "n_tokens",
      state, budget = 100L).select("doc_id").as[String].collect().toSet
    assert(BudgetGate.driverResolved.get() === before,
      "string ids must not take the driver path (idHash cast/order semantics)")
    assert(acc.nonEmpty)
  }
}
