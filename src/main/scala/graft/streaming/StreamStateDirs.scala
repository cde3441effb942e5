package graft.streaming

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType, StructField,
  StructType}

/** The per-batch-id marker protocol shared by every marker-gated
  * streaming state: [[GraphStreams]], [[ClusterStreams]],
  * [[SearchStreams]], the three [[ModelStreams]] layouts, and the CDC
  * and cross-span indexes of [[DedupStreams]]. A face declares a
  * [[Layout]] (its relation names, schemas and per-relation merges);
  * everything below is defined here once.
  *
  * On disk, under a state root: each relation's partials live in
  * `<relation>/batch_id=N`, and each batch's one-row marker in
  * `<markers>/batch_id=N`. A marker carries the layout's optional
  * scalar columns and a `covers` list, null for a stream batch.
  *
  *  - Commit ([[Layout.commit]]): partials first, marker LAST. A batch
  *    is committed iff its marker exists, so a reader racing a
  *    mid-commit batch sees none of it; a replayed batch overwrites its
  *    own directories before re-committing.
  *  - Read ([[Layout.marks]], [[Layout.read]]): the effective ids are
  *    the committed ids minus every id some marker's `covers` names.
  *    The marker relation is one row per batch ever committed, about
  *    one after compaction, so it is collected.
  *  - Compaction ([[Layout.compact]]): covered leftovers of an
  *    interrupted compaction are deleted first; with two or more
  *    effective ids, every relation's merge over them is materialised
  *    before any write under the root it reads, then written under the
  *    base id `min(min effective, 0) - 1` (stream ids are non-negative,
  *    so no future batch collides). The base's marker, whose `covers`
  *    lists the folded ids, lands last: the one visibility flip, so
  *    merges that are sums never double-count. Each folded id's
  *    marker is then deleted before its data, so no id is ever
  *    committed but dataless. Base and originals coexisting read
  *    identically because the base holds exactly what a reader's merge
  *    computes from them. A crash anywhere replays safely: the base id
  *    derives from the effective set, so a re-run overwrites an
  *    unmarked base and finishes the deletes.
  *
  * One state root belongs to ONE streaming checkpoint lineage. Restarts
  * must reuse the checkpoint so batch ids continue monotonically;
  * pointing a fresh checkpoint at existing state restarts ids at 0,
  * overwriting committed partitions and, after a compaction, colliding
  * with a base marker's `covers` list (the reused id reads as
  * superseded).
  */
private[streaming] object StreamStateDirs {

  /** One per-batch relation: its directory name, its row schema
    * (without `batch_id`), and its merge, which maps the rows of the
    * effective batches (with `batch_id`) to the merged relation
    * (without it). Readers and [[Layout.compact]] apply the same merge,
    * so a fold is what a reader computes by construction.
    */
  final case class Relation(name: String, schema: StructType,
      merge: DataFrame => DataFrame)

  /** Merges for [[Relation]]: appended rows (ids disjoint by contract),
    * and a keyed aggregation.
    */
  val append: DataFrame => DataFrame = _.drop("batch_id")
  def keyed(keys: String*)(aggs: Column*): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** The marker set of a state root as a reader sees it: effective ids,
    * covered ids (both ascending), and each scalar summed over the
    * effective markers.
    */
  final case class Marks(effective: IndexedSeq[Long],
      covered: IndexedSeq[Long], sums: Seq[Long])

  /** A marker-gated state layout: the marker directory name, the
    * relations, and the Long scalar columns each marker carries (summed
    * into the base marker by [[compact]]).
    */
  final case class Layout(markers: String, relations: Seq[Relation],
      scalars: Seq[String] = Nil) {

    private def markerSchema = StructType(
      scalars.map(StructField(_, LongType)) :+
        StructField("covers", ArrayType(LongType)))

    private def relation(name: String): Relation = relations.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no relation $name in ${relations.map(_.name).mkString(", ")}"))

    /** Write one batch: each relation's partial (in `relations` order),
      * then the marker with `scalars`.
      */
    def commit(spark: SparkSession, root: String, batchId: Long,
        partials: Seq[DataFrame], scalarValues: Seq[Long] = Nil): Unit = {
      require(partials.size == relations.size && scalarValues.size == scalars.size,
        "one partial per relation and one value per scalar")
      relations.zip(partials).foreach { case (r, df) =>
        df.write.mode("overwrite").parquet(s"$root/${r.name}/batch_id=$batchId")
      }
      writeMarker(spark, root, batchId, scalarValues, null)
    }

    private def writeMarker(spark: SparkSession, root: String, id: Long,
        scalarValues: Seq[Long], covers: Seq[Long]): Unit =
      spark.createDataFrame(
          java.util.Collections.singletonList(Row.fromSeq(scalarValues :+ covers)),
          markerSchema)
        .write.mode("overwrite").parquet(s"$root/$markers/batch_id=$id")

    /** The markers under `root`; effective ids are restricted to ids
      * below `below` (a replayed batch reading its own history excludes
      * itself; bases are negative, so they always stay in).
      */
    def marks(spark: SparkSession, root: String,
        below: Long = Long.MaxValue): Marks = {
      val rows = readOrEmpty(spark, s"$root/$markers",
          markerSchema.add(StructField("batch_id", LongType)))
        .select(("batch_id" +: "covers" +: scalars).map(col): _*).collect()
      val covered = rows.iterator.filterNot(_.isNullAt(1))
        .flatMap(_.getSeq[Long](1)).toSet
      val eff = rows.filter { r =>
        val id = r.getLong(0)
        !covered.contains(id) && id < below
      }
      Marks(eff.map(_.getLong(0)).toIndexedSeq.sorted,
        covered.toIndexedSeq.sorted,
        scalars.indices.map(i => eff.map(_.getLong(2 + i)).sum))
    }

    /** One relation merged over the batches `ids`. */
    def read(spark: SparkSession, root: String, name: String,
        ids: Seq[Long]): DataFrame = {
      val r = relation(name)
      r.merge(readOrEmpty(spark, s"$root/${r.name}",
          r.schema.add(StructField("batch_id", LongType)))
        .where(col("batch_id").isin(ids: _*)))
    }

    /** One relation merged over the effective batches below `below`. */
    def load(spark: SparkSession, root: String, name: String,
        below: Long = Long.MaxValue): DataFrame =
      read(spark, root, name, marks(spark, root, below).effective)

    /** Fold every effective batch into one base partition per relation
      * (see the object doc for the order and why each crash point is
      * safe). No-op beyond leftover cleanup with ≤ 1 effective batch.
      */
    def compact(spark: SparkSession, root: String): Unit = {
      val m = marks(spark, root)
      m.covered.foreach(dropBatch(spark, root, _))
      if (m.effective.size <= 1) return
      val base = math.min(m.effective.min, 0L) - 1L
      val folded = relations.map(r =>
        read(spark, root, r.name, m.effective).localCheckpoint(true))
      try {
        relations.zip(folded).foreach { case (r, df) =>
          df.write.mode("overwrite").parquet(s"$root/${r.name}/batch_id=$base")
        }
        writeMarker(spark, root, base, m.sums, m.effective)
      } finally { folded.foreach(_.unpersist()); () }
      m.effective.foreach(dropBatch(spark, root, _))
    }

    /** Marker before data: an id is never committed but dataless. */
    private def dropBatch(spark: SparkSession, root: String, id: Long): Unit = {
      delete(spark, s"$root/$markers/batch_id=$id")
      relations.foreach(r => delete(spark, s"$root/${r.name}/batch_id=$id"))
    }
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursively delete `dir` if it exists (a no-op otherwise, so a
    * replay after a mid-delete crash re-deletes freely). Goes through
    * the Hadoop FileSystem API, so local and HDFS/object-store state
    * dirs take the same path.
    */
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fs(spark, p).delete(p, true)
    ()
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    fs(spark, p).exists(p)
  }

  /** `dir` read with `schema`, or an empty frame of that schema when
    * the directory does not exist yet. Existence is checked before
    * the read, so state that is not there yet costs no logged
    * FileNotFoundException.
    */
  def readOrEmpty(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    if (!exists(spark, dir)) empty
    else Try(spark.read.schema(schema).parquet(dir)) match {
      case Success(df) => df
      // ONLY a missing directory means "no state yet" — here, one
      // removed between the check and the read. Any other read
      // failure (IO hiccup, corrupt footer, permissions) must
      // PROPAGATE and fail the micro-batch so the stream retries —
      // swallowing it would settle the batch against an empty history
      // and silently re-admit every previously-seen document.
      case Failure(e) if pathMissing(e) => empty
      case Failure(e) => throw e
    }
  }

  /** True iff the failure chain means "this path does not exist" —
    * the ONE failure a state reader may treat as empty state. The
    * cause walk is depth-bounded: a cyclic cause chain (constructible
    * with two mutually-caused exceptions; some wrapper libraries
    * produce them) must not turn error CLASSIFICATION into a
    * StackOverflowError.
    */
  def pathMissing(e: Throwable, depth: Int = 20): Boolean =
    depth > 0 && e != null && (e.isInstanceOf[java.io.FileNotFoundException] ||
      (e match {
        case a: org.apache.spark.sql.AnalysisException =>
          a.getCondition == "PATH_NOT_FOUND"
        case _ => false
      }) || pathMissing(e.getCause, depth - 1))
}
