package graft.streaming

import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.ops.Search

/** Streaming-state compaction: reader output must be IDENTICAL before
  * and after [[GraphStreams.compact]] / [[PipelineStreams.compact]] /
  * [[SearchStreams.compact]] — and at every mid-compaction crash point
  * (base written but unmarked; base committed but originals not yet
  * deleted), with a compaction replay converging afterwards. The
  * folded state must also actually FOLD: one base partition where N
  * batch partitions were. The last table runs those crash windows over
  * every face of the [[StreamStateDirs]] marker protocol.
  */
class StreamingCompactionSpec extends AnyFunSuite with SparkSpec {

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

  private def partitionIds(dir: String): Set[Long] =
    if (!Files.isDirectory(Paths.get(dir))) Set.empty
    else {
      val s = Files.list(Paths.get(dir))
      try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).toSet
      finally s.close()
    }

  // ---- GraphStreams ------------------------------------------------------

  test("graph member state: compaction folds partitions, edges unchanged, crash windows safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(("click", ts(5), 10L), ("click", ts(10), 30L), ("view", ts(7), 20L)),
      Seq(("click", ts(2), 30L), ("click", ts(8), 20L), ("view", ts(9), 10L)),
      Seq(("click", ts(1), 40L), ("view", ts(3), 30L)))
    val dir = Files.createTempDirectory("graft_cmp_gs").toString
    val ckpt = Files.createTempDirectory("graft_cmp_gsc").toString
    val in = MemoryStream[(String, Timestamp, Long)]
    val q = GraphStreams.memberStream(
      in.toDS().toDF("event_type", "ts", "user_id"), dir, ckpt)
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    def edges() = GraphStreams.loadEdges(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val before = edges()
    assert(before.nonEmpty)
    assert(partitionIds(s"$dir/members").size === 3)

    // crash window A: a base members partition exists but has NO commit
    // marker — it must be invisible to readers
    spark.read.parquet(s"$dir/members/batch_id=0")
      .write.mode("overwrite").parquet(s"$dir/members/batch_id=-99")
    assert(edges() === before)
    StreamStateDirs.delete(spark, s"$dir/members/batch_id=-99")

    // real compaction: edges identical, state folded to ONE partition
    GraphStreams.compact(spark, dir)
    assert(edges() === before)
    assert(partitionIds(s"$dir/members") === Set(-1L))
    assert(partitionIds(s"$dir/commits") === Set(-1L))

    // idempotence: compacting a compacted state is a no-op
    GraphStreams.compact(spark, dir)
    assert(edges() === before)
    assert(partitionIds(s"$dir/members") === Set(-1L))
  }

  test("graph member state: base+originals coexisting (mid-delete crash) read identically; replay converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq(("click", ts(5), 10L), ("click", ts(10), 30L)),
      Seq(("click", ts(2), 30L), ("click", ts(8), 20L)))
    val dir = Files.createTempDirectory("graft_cmp_gs2").toString
    val ckpt = Files.createTempDirectory("graft_cmp_gs2c").toString
    val in = MemoryStream[(String, Timestamp, Long)]
    val q = GraphStreams.memberStream(
      in.toDS().toDF("event_type", "ts", "user_id"), dir, ckpt)
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    def edges() = GraphStreams.loadEdges(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val before = edges()

    // simulate the crash window: base data + covering marker landed,
    // originals NOT deleted — min-merge idempotence + covers must keep
    // the reader invariant
    spark.read.parquet(s"$dir/members")
      .where(col("batch_id").isin(0L, 1L)).drop("batch_id")
      .groupBy("event_type", "h", "user_id").agg(min("mts").as("mts"))
      .select("event_type", "h", "user_id", "mts")
      .write.parquet(s"$dir/members/batch_id=-1")
    Seq((0L, Seq(0L, 1L))).toDF("n", "covers")
      .write.parquet(s"$dir/commits/batch_id=-1")
    assert(edges() === before)
    assert(partitionIds(s"$dir/members") === Set(-1L, 0L, 1L))

    // replay: compact() finishes the job (folds to a fresh base,
    // removes every superseded partition)
    GraphStreams.compact(spark, dir)
    assert(edges() === before)
    assert(partitionIds(s"$dir/members").size === 1)
  }

  // ---- PipelineStreams ---------------------------------------------------

  test("fingerprint state: compaction folds partitions; dedup history is unchanged") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_cmp_fp").toString
    // three settled batches' fingerprints, written in the stream layout
    Seq("a", "b").toDF("fingerprint")
      .write.parquet(s"$stateDir/batch_id=0")
    Seq("b", "c").toDF("fingerprint")
      .write.parquet(s"$stateDir/batch_id=1")
    Seq("d").toDF("fingerprint")
      .write.parquet(s"$stateDir/batch_id=2")

    def history() = PipelineStreams.fingerprints(spark, stateDir)
      .select("fingerprint").distinct().collect().map(_.getString(0)).toSet
    assert(history() === Set("a", "b", "c", "d"))

    PipelineStreams.compact(spark, stateDir)
    assert(history() === Set("a", "b", "c", "d"))
    // the NEWEST partition (2) is never folded: without commit markers
    // it may belong to a batch whose checkpoint hasn't committed, and
    // folding it into the base would hand a replay its own
    // fingerprints as history (round-7 review fix; the marker-gated
    // composed layout folds everything — see CuratedClusterStreamsSpec)
    assert(partitionIds(stateDir) === Set(-1L, 2L))
    // the base keeps working as history for later batches: batch_id=-1
    // passes every `batch_id < N` history read
    val hist = PipelineStreams.fingerprints(spark, stateDir)
      .where(col("batch_id") < 7).select("fingerprint")
    assert(hist.collect().map(_.getString(0)).toSet === Set("a", "b", "c", "d"))

    PipelineStreams.compact(spark, stateDir) // no-op (base + newest only)
    assert(partitionIds(stateDir) === Set(-1L, 2L))
    assert(history() === Set("a", "b", "c", "d"))
  }

  test("fingerprint state: base+originals coexisting read identically; replay converges") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_cmp_fp2").toString
    Seq("a", "b").toDF("fingerprint").write.parquet(s"$stateDir/batch_id=0")
    Seq("b", "c").toDF("fingerprint").write.parquet(s"$stateDir/batch_id=1")
    // crash window: base landed, originals not yet deleted
    Seq("a", "b", "c").toDF("fingerprint").write.parquet(s"$stateDir/batch_id=-1")
    def history() = PipelineStreams.fingerprints(spark, stateDir)
      .select("fingerprint").distinct().collect().map(_.getString(0)).toSet
    assert(history() === Set("a", "b", "c"))
    PipelineStreams.compact(spark, stateDir)
    assert(history() === Set("a", "b", "c"))
    // the orphan base and batch 0 fold into a fresh base; batch 1 (the
    // newest, possibly-uncommitted — round-7 review fix) stays put
    assert(partitionIds(stateDir) === Set(-2L, 1L))
  }

  // ---- SearchStreams -----------------------------------------------------

  test("BM25 index: compaction folds partials; index and scores unchanged; sums never double-count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "alpha delta")),
      Seq((11L, "alpha alpha beta"), (12L, "epsilon zeta")),
      Seq((21L, "gamma delta alpha")))
    val dir = Files.createTempDirectory("graft_cmp_ix").toString
    val ckpt = Files.createTempDirectory("graft_cmp_ixc").toString
    val in = MemoryStream[(Long, String)]
    val q = SearchStreams.indexStream(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text", dir, ckpt)
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    def snapshot() = {
      val ix = SearchStreams.loadIndex(spark, dir)
      val queries = Seq((1L, "alpha"), (2L, "gamma")).toDF("qid", "term")
      (ix.nDocs, ix.totalTokens, rows(ix.tf), rows(ix.df), rows(ix.lens),
        rows(Search.bm25FromIndex(ix, queries, "qid", "term", 4)))
    }
    val before = snapshot()
    assert(before._1 === 5L)
    assert(partitionIds(s"$dir/stats").size === 3)

    SearchStreams.compact(spark, dir)
    assert(snapshot() === before)
    Seq("tf", "df", "lens", "stats").foreach(r =>
      assert(partitionIds(s"$dir/$r") === Set(-1L), s"relation $r not folded"))

    SearchStreams.compact(spark, dir) // idempotent no-op
    assert(snapshot() === before)
  }

  test("BM25 index: crash windows — unmarked base invisible; committed base excludes covered originals; replay converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = Seq(
      Seq((1L, "alpha beta"), (2L, "alpha")),
      Seq((11L, "beta beta gamma")))
    val dir = Files.createTempDirectory("graft_cmp_ix2").toString
    val ckpt = Files.createTempDirectory("graft_cmp_ix2c").toString
    val in = MemoryStream[(Long, String)]
    val q = SearchStreams.indexStream(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text", dir, ckpt)
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    def snapshot() = {
      val ix = SearchStreams.loadIndex(spark, dir)
      (ix.nDocs, ix.totalTokens, rows(ix.tf), rows(ix.df), rows(ix.lens))
    }
    val before = snapshot()

    // crash window A: merged tf/df/lens landed under the base id but
    // stats (the commit) did not — the base must be invisible
    def relAll(name: String) = spark.read.parquet(s"$dir/$name")
      .where(col("batch_id").isin(0L, 1L)).drop("batch_id")
    relAll("tf").write.parquet(s"$dir/tf/batch_id=-1")
    relAll("df").groupBy("term").agg(sum("df").as("df"))
      .write.parquet(s"$dir/df/batch_id=-1")
    relAll("lens").write.parquet(s"$dir/lens/batch_id=-1")
    assert(snapshot() === before)

    // crash window B: the covering stats row lands (base committed),
    // originals not yet deleted — df/nDocs/toks are SUMS, so this is
    // the double-count hazard; `covers` must exclude the originals
    Seq((3L, 6L, Seq(0L, 1L))).toDF("n", "toks", "covers")
      .write.parquet(s"$dir/stats/batch_id=-1")
    assert(snapshot() === before)

    // replay converges: every superseded partition removed, one base
    SearchStreams.compact(spark, dir)
    assert(snapshot() === before)
    Seq("tf", "df", "lens", "stats").foreach(r =>
      assert(partitionIds(s"$dir/$r").size === 1, s"relation $r not folded"))
  }

  // ---- every marker face -------------------------------------------------

  /** Runs a face's stream over `batches`, one micro-batch each. */
  private def feed[T: Encoder](batches: Seq[Seq[T]], cols: String*)(
      start: (DataFrame, String) => StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val q = start(in.toDS().toDF(cols: _*),
      Files.createTempDirectory("graft_cmp_face_ckpt").toString)
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
  }

  private def rows(d: DataFrame) = d.collect().map(_.toSeq).toSet

  /** One marker-gated face: its layout, a filler that commits three
    * batches under a state dir, what a reader sees, and its compaction.
    */
  private case class Face(name: String, layout: StreamStateDirs.Layout,
      fill: String => Unit, read: String => Any, compact: String => Unit)

  private def faces: Seq[Face] = {
    import spark.implicits._
    val texts = Seq(
      Seq((1L, "alpha beta gamma alpha shared boilerplate sentence here"),
        (2L, "beta beta delta")),
      Seq((11L, "alpha beta delta shared boilerplate sentence here"),
        (12L, "gamma alpha beta")),
      Seq((21L, "epsilon zeta alpha shared boilerplate sentence here")))
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq(
      Face("graph", GraphStreams.layout,
        dir => feed(Seq(
            Seq(("click", ts(5), 10L), ("click", ts(10), 30L), ("view", ts(7), 20L)),
            Seq(("click", ts(2), 30L), ("click", ts(8), 20L), ("view", ts(9), 10L)),
            Seq(("click", ts(1), 40L), ("view", ts(3), 30L))),
          "event_type", "ts", "user_id")(GraphStreams.memberStream(_, dir, _)),
        dir => rows(GraphStreams.loadEdges(spark, dir)),
        GraphStreams.compact(spark, _)),
      Face("cluster", ClusterStreams.layout,
        // near-dup docs across batches, so later label deltas supersede
        // earlier ones
        dir => feed(Seq(Seq((1L, s"$base x1"), (2L, s"$base x2")),
            Seq((5L, s"$base x5"), (9L, "unrelated words entirely")),
            Seq((6L, s"$base x6"))), "id", "text")(
          ClusterStreams.clusterStream(_, "id", "text", dir, _)),
        dir => (rows(ClusterStreams.loadLabels(spark, dir)),
          rows(ClusterStreams.loadBands(spark, dir))),
        ClusterStreams.compact(spark, _)),
      Face("search", SearchStreams.layout,
        dir => feed(texts, "doc_id", "text")(
          SearchStreams.indexStream(_, "doc_id", "text", dir, _)),
        dir => {
          val ix = SearchStreams.loadIndex(spark, dir)
          (ix.nDocs, ix.totalTokens, rows(ix.tf), rows(ix.df), rows(ix.lens))
        },
        SearchStreams.compact(spark, _)),
      Face("lm", ModelStreams.lmLayout,
        dir => feed(texts, "doc_id", "text")(
          ModelStreams.lmStream(_, "text", dir, _)),
        dir => {
          val m = ModelStreams.loadModel(spark, dir)
          (m.vocab, rows(m.uni), rows(m.bi))
        },
        ModelStreams.compact(spark, _)),
      Face("dsir", ModelStreams.dsirLayout,
        dir => feed(texts.zipWithIndex.map { case (b, i) =>
            b.map { case (id, t) => (id, t, i % 2 == 0) } },
          "doc_id", "text", "is_target")(
          ModelStreams.dsirStream(_, "text", "is_target", 64, dir, _)),
        dir => rows(ModelStreams.loadDsirModel(spark, dir)),
        ModelStreams.compact(spark, _)),
      Face("hist", ModelStreams.histLayout,
        dir => feed(Seq(Seq((1L, 10L, 3L), (2L, 20L, 9L)),
            Seq((11L, 10L, 2L), (12L, 35L, 9L)), Seq((21L, 20L, 4L))),
          "doc_id", "n_chars", "quality")(
          ModelStreams.histStream(_, Seq("n_chars", "quality"), dir, _)),
        dir => (rows(ModelStreams.loadHistogram(spark, dir, "n_chars")),
          rows(ModelStreams.loadHistogram(spark, dir, "quality",
            ascending = false))),
        ModelStreams.compact(spark, _)),
      Face("cdc", DedupStreams.cdcLayout,
        dir => feed(texts.map(_.map { case (id, t) => (s"src${id % 2}", t) }),
          "source", "text")(DedupStreams.cdcChunkIndexStream(_, dir, _)),
        dir => rows(DedupStreams.loadCdcChunkIndex(spark, dir)),
        DedupStreams.compactCdcChunkIndex(spark, _)),
      Face("cross-span", DedupStreams.crossSpanLayout,
        dir => feed(texts.map(_.map { case (id, t) => (id, t, "s1") }),
          "doc_id", "text", "source")(
          DedupStreams.crossSpanIndexStream(_, dir, _, minLen = 10)),
        dir => rows(DedupStreams.loadCrossSpanIndex(spark, dir)),
        DedupStreams.compactCrossSpanIndex(spark, _)))
  }

  faces.foreach { face =>
    test(s"${face.name} state: unmarked base invisible; base+originals under a covering marker read the same; replays converge") {
      val dirs = face.layout.markers +: face.layout.relations.map(_.name)
      def copy(from: String, to: String, sub: String, id: Long): Unit =
        FileUtils.copyDirectory(new java.io.File(s"$from/$sub/batch_id=$id"),
          new java.io.File(s"$to/$sub/batch_id=$id"))
      def fresh(prefix: String, from: String): String = {
        val d = Files.createTempDirectory(prefix).toString
        FileUtils.copyDirectory(new java.io.File(from), new java.io.File(d))
        d
      }
      def folded(d: String) = dirs.foreach(sub =>
        assert(partitionIds(s"$d/$sub") === Set(-1L), s"$sub not folded"))

      val dir = Files.createTempDirectory(s"graft_face_${face.name}").toString
      face.fill(dir)
      val before = face.read(dir)
      dirs.foreach(sub => assert(partitionIds(s"$dir/$sub") === Set(0L, 1L, 2L)))

      // what a finished compaction writes, taken from a copy
      val ref = fresh("graft_face_ref", dir)
      face.compact(ref)
      assert(face.read(ref) === before)
      folded(ref)

      // window A: the base's partials landed, its marker did not
      face.layout.relations.foreach(r => copy(ref, dir, r.name, -1L))
      assert(face.read(dir) === before, "an unmarked base must be invisible")
      val replayA = fresh("graft_face_a", dir)
      face.compact(replayA)
      assert(face.read(replayA) === before)
      folded(replayA)

      // window B: the covering marker landed, the originals remain
      copy(ref, dir, face.layout.markers, -1L)
      assert(face.read(dir) === before,
        "base and covered originals must read as the originals did")
      face.compact(dir)
      assert(face.read(dir) === before)
      folded(dir)
      face.compact(dir) // a further replay is a no-op
      assert(face.read(dir) === before)
      folded(dir)
    }
  }
}
