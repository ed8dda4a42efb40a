package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.{SparkEntry, Tables}
import graft.mr.{Emit, KSV, KV, MapReduce, MapReduce1}
import graft.streaming.UpsertSink
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** One timed operation: a query, an MR job, a sink merge or a state read. */
final case class OpRec(name: String, group: String, startMs: Double,
    endMs: Double, ok: Boolean, error: String) {
  def durS: Double = (endMs - startMs) / 1000
}

/** Shared state of one benchmark process after set-up. */
final class Ctx(val spark: SparkSession, val sf: String, val seed: Long,
    val tmp: Path, val out: Path, val tracer: Tracer, val plant: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Largest storage-memory footprint seen at the end of a traced op. */
  var cachePeakBytes = 0L

  /** Times `body` as one op; a throw marks the op failed. */
  def op[T](name: String, group: String)(body: => T): Option[T] = {
    val t0 = Clock.nowMs
    val res =
      try Right(tracer.span(s"op:$name")(body))
      catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
    ops += OpRec(name, group, t0, Clock.nowMs, res.isRight,
      res.left.toOption.getOrElse(""))
    if (tracer.on) cachePeakBytes = math.max(cachePeakBytes,
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
    res.toOption
  }
}

trait Workload {
  /** Nominal seconds of one warm pass on four cores; fixes the pass count. */
  def passSeconds: Double
  /** Makes the seeded inputs (not part of set-up). */
  def generate(seed: Long, in: Inputs): Unit = ()
  /** Makes the inputs reachable from `spark` (part of set-up). */
  def register(spark: SparkSession): Unit
  /** One pass over every op of the workload, in a seeded order. Pass -1
    * is the untimed warm-up on the same inputs, so timed passes find
    * caches filled and code generated, as a long-lived session does.
    */
  def pass(c: Ctx, i: Int): Unit
  /** Checks the last body's outputs outside the timed region; returns the
    * ops whose output is wrong.
    */
  def check(c: Ctx): Seq[String]
  /** Per-layer metrics only this workload can take. */
  def layers(c: Ctx): Seq[(String, Double, String)] = Nil
  /** Forgets what [[layers]] reports, before the traced body. */
  def reset(): Unit = ()
}

object QueryWorkload {
  /** The tables a query workload registers at set-up. */
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** SparkEntry queries run and collected; results are dumped for the
  * DuckDB oracle the runner applies. `names` are qNN prefixes, each with
  * the object the query is bound to in ATLAS.md.
  */
class QueryWorkload(names: Seq[(String, String)], val passSeconds: Double,
    sf: String) extends Workload {
  private val byPrefix: Map[String, String] =
    SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
  val full: Seq[(String, String)] = names.map { case (p, g) =>
    (byPrefix.getOrElse(p, sys.error(s"no SparkEntry query $p")), g) }
  val results = mutable.Map.empty[String, (StructType, Array[Row])]
  val buildMs = mutable.ArrayBuffer.empty[Double]

  def register(spark: SparkSession): Unit =
    QueryWorkload.Tables.foreach(t => Tables.load(spark, sf, t).createOrReplaceTempView(t))

  def runQuery(c: Ctx, name: String, group: String): Unit = {
    // identical (empty) storage state per query, as Bench does
    c.spark.catalog.clearCache()
    c.op(name, group) {
      val b0 = Clock.nowMs
      val df = c.tracer.span("build")(SparkEntry.queries(name)(c.spark, c.sf))
      buildMs += Clock.nowMs - b0
      val rows = c.tracer.span("action")(df.collect())
      results(name) = (df.schema, rows)
    }
  }

  def pass(c: Ctx, i: Int): Unit =
    new Random(c.seed * 1000 + i).shuffle(full).foreach { case (n, g) =>
      runQuery(c, n, g)
    }

  /** Dumps each collected result as parquet for the runner's oracle
    * compare; with `plant`, one result loses its first row.
    */
  def check(c: Ctx): Seq[String] = {
    val dir = c.out.resolve("results")
    Files.createDirectories(dir)
    val planted = full.map(_._1).find(n => results.get(n).exists(_._2.nonEmpty))
    results.foreach { case (name, (schema, rows0)) =>
      val rows = if (c.plant && planted.contains(name)) rows0.drop(1) else rows0
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => results.contains(k) }
    Files.writeString(c.out.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    Nil // the runner compares the dumps
  }

  override def layers(c: Ctx): Seq[(String, Double, String)] =
    Seq(("Tables.load_s", buildMs.sum / 1000, "s"))

  override def reset(): Unit = buildMs.clear()
}

/** MapReduce tasks written as a user of `graft.mr` would, the way the
  * tinymr docs use the API. `emitted` counts mapper emissions when the
  * run is traced.
  */
object MrTasks {
  private def words(line: String, emitted: Option[LongAccumulator]) = {
    val it = line.split(' ').iterator.filter(_.nonEmpty)
    emitted.fold(it)(acc => it.map { w => acc.add(1); w })
  }

  /** Dataset path, combiner, keyPreserving: one shuffle of partial sums. */
  final class WordCountCombine(emitted: Option[LongAccumulator])
      extends MapReduce1[String, String, Int, Long] {
    def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
      words(line, emitted).map(w => KV(w, 1L))
    def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
      KV(key, values.sum)
    override def keyPreserving: Boolean = true
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  }

  /** RDD path without a combiner: every key's value list is built. */
  final class WordCountLists(emitted: Option[LongAccumulator])
      extends MapReduce1[String, String, Int, Long] {
    def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
      words(line, emitted).map(w => KV(w, 1L))
    def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
      KV(key, values.size.toLong)
    override def keyPreserving: Boolean = true
  }

  /** Secondary sort with a re-keying reducer: events sorted by time per
    * user, each user re-keyed by its first and last event type, and the
    * second shuffle sorts each path's users by value.
    */
  final class PathEnds(emitted: Option[LongAccumulator])
      extends MapReduce[(Long, Long, String), String, Long, String] {
    def mapper(e: (Long, Long, String)): IterableOnce[Emit[String, Long, String]] = {
      emitted.foreach(_.add(1))
      Iterator.single(KSV("u" + e._1, e._2, e._3))
    }
    def reducer(user: String, types: Seq[String]): IterableOnce[Emit[String, Long, String]] =
      Iterator.single(KV(types.head + ">" + types.last, user))
    override def sortReduceWithValue: Boolean = true
    override def sortOrdering: Ordering[Long] = Ordering.Long
    override def valueOrdering: Ordering[String] = Ordering.String
  }

  def foldWordCount(lines: Array[String]): Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    lines.foreach(_.split(' ').foreach(w => if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1))
    m.toMap
  }

  def foldPathEnds(ev: Array[(Long, Long, String)]): Map[String, List[String]] =
    ev.groupBy(_._1).toSeq.map { case (u, es) =>
      val byTs = es.sortBy(_._2)
      (byTs.head._3 + ">" + byTs.last._3, "u" + u)
    }.groupBy(_._1).map { case (k, us) => k -> us.map(_._2).sorted.toList }
}

class MrWorkload extends Workload {
  val passSeconds = 2.0
  private var lines: Array[String] = _
  private var events: Array[(Long, Long, String)] = _
  val out = mutable.ArrayBuffer.empty[(String, Any)]
  var emitted: Option[LongAccumulator] = None

  override def generate(s: Long, in: Inputs): Unit = {
    lines = in.lines(s); events = in.events(s)
  }

  private var linesDs: org.apache.spark.sql.Dataset[String] = _
  private var linesRdd: org.apache.spark.rdd.RDD[String] = _
  private var eventsRdd: org.apache.spark.rdd.RDD[(Long, Long, String)] = _

  def register(spark: SparkSession): Unit = {
    val n = spark.sparkContext.defaultParallelism
    linesRdd = spark.sparkContext.parallelize(lines.toSeq, n)
    linesDs = spark.createDataset(linesRdd)(Encoders.STRING)
    eventsRdd = spark.sparkContext.parallelize(events.toSeq, n)
  }

  private def jobs(c: Ctx): Seq[(String, () => Any)] = {
    import c.spark.implicits._
    Seq(
      "wordcount_combine" -> (() =>
        new MrTasks.WordCountCombine(emitted).runDataset(linesDs).collect().toMap),
      "wordcount_lists" -> (() =>
        new MrTasks.WordCountLists(emitted).run(linesRdd).collect().toMap),
      "secondary_sort" -> (() =>
        new MrTasks.PathEnds(emitted).run(eventsRdd).collect().toMap))
  }

  def pass(c: Ctx, i: Int): Unit =
    new Random(c.seed * 1000 + i).shuffle(jobs(c)).foreach { case (n, f) =>
      c.op(n, "mr")(f()).foreach(r => out += n -> r)
    }

  def check(c: Ctx): Seq[String] = {
    val wc = MrTasks.foldWordCount(lines)
    val pe = MrTasks.foldPathEnds(events)
    val wrong = out.zipWithIndex.flatMap { case ((n, r0), i) =>
      val r = if (c.plant && i == 0) r0 match {
        case m: Map[String, Any] @unchecked => m - m.keys.head
      } else r0
      val expected = if (n == "secondary_sort") pe else wc
      if (r == expected) None else Some(s"$n#$i")
    }
    wrong.toSeq
  }
}

/** The direct changelog loop: merges through `UpsertSink.merge`, each
  * followed by a `readState(...).count()`, checked against a driver-side
  * last-writer-wins fold.
  */
class UpsertLoop {
  private var batches: Seq[Seq[(Long, Long, String)]] = Nil
  private var frames: Seq[org.apache.spark.sql.DataFrame] = Nil
  val mergeS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  private val counts = mutable.ArrayBuffer.empty[(Int, Long)]
  private var lastSink: Path = _

  def generate(seed: Long, in: Inputs): Unit = batches = in.changelog(seed)

  def register(spark: SparkSession): Unit = {
    import spark.implicits._
    frames = batches.map(b => b.toDF("k", "ver", "payload"))
  }

  def userBytes: Long = batches.map(_.map(r => 16L + r._3.length).sum).sum

  def run(c: Ctx, pass: Int): Unit = {
    val sink = Files.createTempDirectory(c.tmp, s"upsert_$pass")
    counts.clear()
    frames.zipWithIndex.foreach { case (f, b) =>
      val m0 = Clock.nowMs
      c.op("upsert.merge", "UpsertSink")(UpsertSink.merge(c.spark, sink.toString, f, "k", "ver"))
      mergeS += (Clock.nowMs - m0) / 1000
      val r0 = Clock.nowMs
      c.op("upsert.read", "UpsertSink") {
        UpsertSink.readState(c.spark, sink.toString).get.count()
      }.foreach(n => counts += b -> n)
      readS += (Clock.nowMs - r0) / 1000
    }
    lastSink = sink
  }

  def check(c: Ctx): Seq[String] = {
    val state = mutable.HashMap.empty[Long, (Long, String)]
    val expectedCounts = batches.map { b =>
      b.foreach { case (k, v, p) =>
        if (state.get(k).forall(_._1 < v)) state(k) = (v, p) }
      state.size.toLong
    }
    val got0 = UpsertSink.readState(c.spark, lastSink.toString).get.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val got = if (c.plant) got0.updated(got0.keys.head, (-1L, "planted")) else got0
    val wrongCounts = counts.filter { case (b, n) => expectedCounts(b) != n }
      .map { case (b, _) => s"upsert.read#$b" }
    val wrongState = if (got == state.toMap) Nil else Seq("upsert.state")
    wrongCounts.toSeq ++ wrongState
  }

  /** (parquet files, bytes on disk, manifest chain length) of the last sink. */
  private def sinkStats: (Long, Long, Long) = {
    val walk = Files.walk(lastSink)
    val files = try walk.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      finally walk.close()
    val chain = Files.readString(lastSink.resolve("_latest")).split("\n")
      .count(_.trim.nonEmpty) - 1L
    (files.count(_.getFileName.toString.endsWith(".parquet")).toLong,
      files.map(Files.size).sum, chain)
  }

  def layers: Seq[(String, Double, String)] = {
    val (files, bytes, chain) = sinkStats
    Seq(("upsert.merge_p50_s", Stats.median(mergeS.toSeq), "s"),
      ("upsert.read_p50_s", Stats.median(readS.toSeq), "s"),
      ("upsert.chain_len", chain.toDouble, "count"),
      ("upsert.files", files.toDouble, "count"),
      ("upsert.write_amp", bytes.toDouble / math.max(1L, userBytes), "ratio"))
  }
}

/** Text operators, a streaming replay and the direct changelog loop,
  * each step in a seeded order per pass (the loop's merges stay in log
  * order).
  */
class TextIngestWorkload(queries: QueryWorkload) extends Workload {
  val passSeconds: Double = queries.passSeconds
  val loop = new UpsertLoop

  override def generate(seed: Long, in: Inputs): Unit = loop.generate(seed, in)

  def register(spark: SparkSession): Unit = {
    queries.register(spark)
    loop.register(spark)
  }

  def pass(c: Ctx, i: Int): Unit = {
    val steps: Seq[() => Unit] = queries.full.map { case (n, g) =>
      () => queries.runQuery(c, n, g) } :+ (() => loop.run(c, i))
    new Random(c.seed * 1000 + i).shuffle(steps).foreach(_())
  }

  def check(c: Ctx): Seq[String] = queries.check(c) ++ loop.check(c)

  override def layers(c: Ctx): Seq[(String, Double, String)] =
    queries.layers(c) ++ loop.layers

  override def reset(): Unit = {
    queries.reset()
    loop.mergeS.clear()
    loop.readS.clear()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Workloads {
  /** sql_short: a grouped aggregate, SQL text through the session, the two
    * approximate-sketch queries the oracle checks by rows, and the four
    * NativeAsOf queries.
    */
  val SqlShort: Seq[(String, String)] =
    Seq("q01", "q37", "q113", "q149").map(_ -> "Relational") ++
      Seq("q180", "q183", "q184", "q188").map(_ -> "Temporal")

  /** text_ingest: the all-pairs cluster split (the gram-hash kernel), a
    * co-purchase graph solve and a streaming replay; the direct changelog
    * loop rides along.
    */
  val TextIngest: Seq[(String, String)] = Seq(
    "q79" -> "Dedup", "q53" -> "Corpus", "q174" -> "EventStream")

  def apply(name: String, sf: String): Workload = name match {
    case "mr_core" => new MrWorkload
    case "sql_short" => new QueryWorkload(SqlShort, 5.0, sf)
    case "text_ingest" => new TextIngestWorkload(new QueryWorkload(TextIngest, 9.0, sf))
    case other => sys.error(s"unknown workload $other")
  }
}
