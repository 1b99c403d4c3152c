package perfbench

import scala.collection.mutable

import graft.operators.{CommitLog, Compact, DeleteVectors, Merge}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `cdc_replica`: an upstream graft table with a standing change-feed
  * subscriber that applies each window to a copy-on-write replica through
  * `Merge.applyCdcParquet` (the q339 shape). A seeded op mix writes the
  * upstream — merge-on-read updates, predicate deletes, format appends —
  * and after every write the client waits for the replica to catch up
  * (replication lag), then reads a point from one table and a range from
  * the other. A round is three such cycles — one period of the
  * schedule's repeating pattern: an append, a merge-on-read update and a
  * predicate delete — followed by a compaction of the replica.
  *
  * The upstream is only maintained after the subscriber stops:
  * `DeleteVectors.applyDeletes` reclaims the files it replaces at once,
  * so a caught-up subscriber's next window fails ("changed files were
  * reclaimed"), and `Compact.compactSink` refuses a table with deletion
  * vectors. See NOTES.md. */
final class CdcReplica(ctx: Main.Ctx) extends Main.Workload {
  private val s = ctx.spark
  import s.implicits._
  private val data = s"${ctx.data}/cdc"
  private val ops = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$data/ops.json"))
  private val schema = StructType(Seq("k", "grp", "v")
    .map(StructField(_, LongType, nullable = false)))
  private val Groups = 100
  private val RoundCycles = 3

  private var root: String = _
  private def up = s"$root/up"
  private def down = s"$root/down"
  private var query: StreamingQuery = _
  /** The benchmark's own model of the table: k -> (grp, v). */
  private val model = mutable.HashMap[Long, (Long, Long)]()
  private var next = 0
  private var cycles = 0
  private var gens0 = 0L

  private def graft(path: String): DataFrame = s.read.format("graft").load(path)

  private def generation(path: String): Long = {
    val p = new Path(path)
    CommitLog.generations(p.getFileSystem(s.sparkContext.hadoopConfiguration),
      p).lastOption.getOrElse(0L)
  }

  private def applyWindow(df: Dataset[Row]): Unit =
    Trace.span("operators.Merge", "applyCdcParquet") {
      val changes = df.filter(col("_change_type") =!= "update_preimage")
        .withColumn("__op", when(col("_change_type") === "delete", lit("D"))
          .otherwise(lit("U")))
        .drop("_change_type")
      val st = Merge.applyCdcParquet(s, changes, Seq("k"), "__op", down)
      ctx.add("merge_files_before", st.filesBefore.toDouble)
      ctx.add("merge_files_touched", st.filesTouched.toDouble)
    }

  def setup(dir: String): Unit = {
    root = dir
    model.clear()
    val base = s.read.parquet(s"$data/base.parquet")
    base.collect().foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    base.write.format("graft").mode("append").save(up)
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema).write.parquet(down)
    query = s.readStream.format("graft")
      .option("readChangeFeed", "true").option("cdfKeys", "k")
      .load(up)
      .writeStream.option("checkpointLocation", s"$root/checkpoint")
      .foreachBatch((df: Dataset[Row], _: Long) => applyWindow(df))
      .start()
    // warm-up cycle: the first image is its write, the subscriber's
    // snapshot window its catch-up; then the reads and a replica compaction
    ctx.op("lag")(query.processAllAvailable())
    reads(ops.get(0), timed = false)
    compactReplica(timed = false)
    next = 0
    cycles = 0
    gens0 = generation(up) + generation(down)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  private def write(op: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val g = op.get("grp").asLong
    val delta = op.get("delta").asLong
    op.get("kind").asText match {
      case "merge" =>
        val rows = model.iterator.filter(_._2._1 == g)
          .map { case (k, (gr, v)) => (k, gr, v + delta) }.toSeq
        if (rows.nonEmpty) {
          val (marked, _) = Trace.span("operators.DeleteVectors", "mergeOnRead") {
            DeleteVectors.mergeOnRead(s, up, rows.toDF("k", "grp", "v"),
              Seq("k"))
          }
          ctx.add("rows_marked", marked.toDouble)
          rows.foreach { case (k, gr, v) => model(k) = (gr, v) }
        }
      case "delete" =>
        val m = delta % 3
        val (n, _) = Trace.span("operators.DeleteVectors", "deleteWhere") {
          DeleteVectors.deleteWhere(s, up,
            col("grp") === g && col("k") % 3 === m)
        }
        ctx.add("rows_marked", n.toDouble)
        model.filterInPlace { case (k, (gr, _)) => !(gr == g && k % 3 == m) }
      case "append" =>
        val from = op.get("from").asLong
        val rows = (from until from + op.get("n").asLong)
          .map(k => (k, k % Groups, (k * 31 + delta) % 1000000))
        Trace.span("sources.GraftDataSource", "write") {
          rows.toDF("k", "grp", "v").write.format("graft").mode("append")
            .save(up)
        }
        rows.foreach { case (k, gr, v) => model(k) = (gr, v) }
    }
    ctx.add("writes", 1)
  }

  /** A read of `path` through the graft source; returns the collected rows. */
  private def read(path: String, f: DataFrame => DataFrame): Array[Row] = {
    val df = Trace.span("sources.GraftDataSource", "plan") {
      val df = f(graft(path))
      df.queryExecution.executedPlan
      df
    }
    Trace.span("sources.GraftDataSource", "exec")(df.collect())
  }

  private def timedOp[A](what: String, timed: Boolean)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = ctx.op(what)(body)
    if (timed && r.isDefined) ctx.sample(what, (System.nanoTime() - t0) / 1e9)
    r
  }

  private def cycle(op: com.fasterxml.jackson.databind.JsonNode,
                    timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    if (timedOp("write", timed)(write(op)).isEmpty) return
    val t1 = System.nanoTime()
    if (timed) ctx.sample(s"write_${op.get("kind").asText}", (t1 - t0) / 1e9)
    val caughtUp = ctx.op("lag") {
      Trace.span("sources.stream", "processAllAvailable")(
        query.processAllAvailable())
    }
    val t2 = System.nanoTime()
    if (timed && caughtUp.isDefined) {
      ctx.sample("lag", (t2 - t1) / 1e9)
      ctx.sample("write_to_replica", (t2 - t0) / 1e9)
    }
    reads(op, timed)
  }

  /** The cycle's point read and range read, checked against the model. */
  private def reads(op: com.fasterxml.jackson.databind.JsonNode,
                    timed: Boolean): Unit = {
    val p = op.get("point").asLong
    val lo = op.get("range").get(0).asLong
    val hi = op.get("range").get(1).asLong
    val wantPoint = model.get(p).map { case (g, v) => (p, g, v) }.toSeq
    val inRange = model.iterator.filter(e => e._1 >= lo && e._1 < hi).toSeq
    val wantRange = (inRange.size.toLong, inRange.map(_._2._2).sum)
    // a point read of one table and a range read of the other, swapped
    // every cycle, so both tables see both kinds
    val (pointOn, rangeOn) =
      if (cycles % 2 == 0) ("upstream" -> up, "replica" -> down)
      else ("replica" -> down, "upstream" -> up)
    timedOp("read", timed)(read(pointOn._2, _.filter(col("k") === p)))
      .foreach { rows =>
        val got = rows.map(r => (r.getAs[Long]("k"), r.getAs[Long]("grp"),
          r.getAs[Long]("v"))).toSeq
        if (got != wantPoint)
          ctx.fail(s"point read k=$p on ${pointOn._1}: $got, model $wantPoint")
      }
    timedOp("read", timed)(read(rangeOn._2,
        _.filter(col("k") >= lo && col("k") < hi)
          .agg(count(lit(1)), sum(col("v")))))
      .foreach { rows =>
        val r = rows.head
        val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        if (got != wantRange)
          ctx.fail(s"range read [$lo,$hi) on ${rangeOn._1}: $got, model $wantRange")
      }
  }

  private def compactReplica(timed: Boolean): Unit =
    timedOp("compact", timed) {
      val (in, out) = Trace.span("operators.Compact", "compactSink") {
        Compact.compactSink(s, down)
      }
      ctx.add("compact_files_in", in.toDouble)
      ctx.add("compact_files_out", out.toDouble)
    }

  /** One round of cycles. */
  def step(): Boolean = {
    if (next + RoundCycles > ops.size) return false
    for (_ <- 1 to RoundCycles) {
      cycle(ops.get(next), timed = true)
      next += 1
      cycles += 1
    }
    compactReplica(timed = true)
    true
  }

  override def afterLoop(): Unit = {
    val onDisk = Main.bytesUnder(up) + Main.bytesUnder(down)
    val once = Main.writtenOnceBytes(modelFrame, s"$root/once")
    ctx.extra("space_amp") = onDisk.toDouble / (2 * once)
  }

  /** The upstream maintenance that a live subscriber rules out. */
  override def finish(): Unit = {
    close()
    timedOp("maintain", timed = true) {
      Trace.span("operators.DeleteVectors", "applyDeletes") {
        DeleteVectors.applyDeletes(s, up)
      }
      val (in, out) = Trace.span("operators.Compact", "compactSink") {
        Compact.compactSink(s, up)
      }
      ctx.add("compact_files_in", in.toDouble)
      ctx.add("compact_files_out", out.toDouble)
    }
  }

  override def layers(w: Trace.Window): Map[String, Double] = {
    val commits = (generation(up) + generation(down) - gens0).toDouble
    val writes = ctx.counters.getOrElse("writes", 0.0)
    Map("operators.CommitLog.commits" -> commits,
      "operators.CommitLog.commits_per_write" ->
        (if (writes > 0) commits / writes else 0.0))
  }

  private def modelFrame: DataFrame =
    model.iterator.map { case (k, (g, v)) => (k, g, v) }.toSeq
      .toDF("k", "grp", "v")

  def verify(): Unit = {
    val want = modelFrame
    for ((name, df) <- Seq("upstream" -> graft(up),
                           "replica" -> CommitLog.read(s, down))) {
      val got = df.select("k", "grp", "v")
      ctx.check(s"$name minus model is empty")(got.exceptAll(want).isEmpty)
      ctx.check(s"model minus $name is empty")(want.exceptAll(got).isEmpty)
    }
    ctx.extra("model_rows") = model.size
  }
}
