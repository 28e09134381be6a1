package layerbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Partitioning, QueryDef, Registry, Sessions}
import graft.sources.Timeseries

/** One timed operation of a workload. `ok` is None when the check happens
  * outside the JVM (query_mix hashes are compared with the DuckDB oracle by
  * run.py). */
final case class Op(name: String, start: Long, end: Long, latency: Long,
                    ok: Option[Boolean], hash: String = "",
                    detail: Map[String, Any] = Map.empty)

trait Workload {
  /** One set-up cycle on a fresh session: the workload's first operation
    * over inputs under `cycleDir`, so no cache carries over from an earlier
    * cycle. */
  def setUp(spark: SparkSession, cycleDir: String): Unit
  /** After the last cycle: runs every distinct operation once, so the
    * window measures a warm, long-lived client. */
  def warm(spark: SparkSession): Unit
  /** Runs timed operations until `deadline` (recorder nanoseconds). */
  def run(spark: SparkSession, deadline: Long): Seq[Op]
  /** Untimed checks and clean-up after the measured window; returns the
    * workload's own numbers for the result file. */
  def finish(spark: SparkSession, ops: Seq[Op]): (Seq[Op], Map[String, Any])
}

object Workload {
  /** One registry query through the same steps `SparkEntry.queries` takes,
    * each under its layer's span, with the result collected to the client.
    * Returns (start, end, collected rows, the query's DataFrame). */
  def query(spark: SparkSession, rec: Recorder, q: QueryDef, dir: String,
            partitions: mutable.ArrayBuffer[Int]): (Long, Long, Array[Row], DataFrame) = {
    val start = rec.now
    val (df, rows) = rec.span("op", q.name) {
      if (rec.tracing) spark.sparkContext.setJobGroup(s"op-${rec.current}", q.name)
      rec.span("sessions", "ensureConfigured")(Sessions.ensureConfigured(spark))
      rec.span("partitioning", "applyHint")(Partitioning.applyHint(spark, dir, q.hint))
      partitions += spark.conf.getOption(Partitioning.InitialPartitionNumKey)
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions")).toInt
      val df = rec.span("operators.build", q.name)(q.fn(spark, dir))
      (df, rec.span("operators.exec", q.name)(df.collect()))
    }
    if (rec.tracing) spark.sparkContext.clearJobGroup()
    (start, rec.now, rows, df)
  }

  /** Repeats `unit` (a whole block of operations) at least once, and again
    * while the next one is expected to end within half a unit of the
    * deadline, so the window stays close to its nominal length whether a
    * unit takes a fifth of it or all of it. */
  def untilDeadline(rec: Recorder, deadline: Long)(unit: => Seq[Op]): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    var last = 0L
    while (ops.isEmpty || rec.now + last <= deadline + last / 2) {
      val t = rec.now
      ops ++= unit
      last = rec.now - t
    }
    ops.toSeq
  }

  def ints(n: JsonNode): Seq[Int] = n.elements.asScala.map(_.asInt).toSeq
  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}

/** Closed loop, one client: a seeded sequence of oracled batch queries over
  * the generated sf0.1 tables. Correctness is the result hash, compared by
  * run.py with the DuckDB oracle's. */
final class QueryMix(plan: JsonNode, rec: Recorder) extends Workload {
  private val sequence = Workload.strings(plan.get("sequence"))
  private val distinct = sequence.distinct.sorted
  private val first = plan.get("setup_query").asText
  private var dir = ""
  val partitions = mutable.ArrayBuffer[Int]()

  def setUp(spark: SparkSession, cycleDir: String): Unit = {
    dir = s"$cycleDir/sf"
    Workload.query(spark, rec, Registry.byName(first), dir, partitions)
  }

  /** Two passes: the JIT is still compiling the hot paths after one. */
  def warm(spark: SparkSession): Unit =
    (distinct.filter(_ != first) ++ distinct)
      .foreach(q => Workload.query(spark, rec, Registry.byName(q), dir, partitions))

  /** Whole blocks only (each block runs every query once, in seeded
    * order), so every window carries the same mix; blocks are paced by
    * [[Workload.untilDeadline]]. */
  def run(spark: SparkSession, deadline: Long): Seq[Op] = {
    partitions.clear()
    val blocks = sequence.grouped(distinct.size)
    Workload.untilDeadline(rec, deadline) {
      blocks.next().map { name =>
        val (s, e, rows, df) = Workload.query(spark, rec, Registry.byName(name), dir, partitions)
        Op(name, s, e, e - s, None, Check.hash(df.schema, rows))
      }
    }
  }

  def finish(spark: SparkSession, ops: Seq[Op]): (Seq[Op], Map[String, Any]) =
    (ops, Map(
      "oracle_sql" -> distinct.map(q => q -> Registry.byName(q).oracle.getOrElse("")).toMap,
      "initial_partitions_mean" ->
        (if (partitions.isEmpty) 0.0 else partitions.sum.toDouble / partitions.size)))
}

/** The reference pipeline: an open-loop producer drops `{"count": k}` files
  * into a Hive-partitioned landing directory on a fixed schedule; a
  * file-source stream generates k days of timeseries per file, reduces it
  * with mean-by-name then std, and appends the result to a parquet sink.
  * A file's latency runs from its due time to its sink commit. */
final class ReferencePipeline(plan: JsonNode, rec: Recorder) extends Workload {
  private val ks = Workload.ints(plan.get("days"))
  private val dueS = plan.get("due_s").elements.asScala.map(_.asDouble).toSeq
  private val phase = Workload.strings(plan.get("phase"))
  private val Start = "2021-01-01"

  private var cycle = ""
  private var query: StreamingQuery = _
  private var seq = 0
  private val dueOf = new ConcurrentHashMap[Int, java.lang.Long]()
  private val written = new ConcurrentHashMap[Int, java.lang.Long]()
  /** seq -> (commit time, days, rows, std) */
  private val committed = new ConcurrentHashMap[Int, (Long, Int, Long, Double)]()

  private def reduce(df: DataFrame): DataFrame =
    df.groupBy(col("name")).agg(avg(col("y")).as("mean_y"), count(lit(1)).as("n"))
      .agg(stddev_samp(col("mean_y")).as("std"), sum(col("n")).as("rows"))

  /** Drops one file atomically (written beside the landing tree, then
    * renamed into it) under the A2 key layout of its due time. */
  private def drop(k: Int, due: Long): Int = {
    val n = seq; seq += 1
    val t = java.time.Instant.ofEpochMilli(rec.wall0 + due / 1000000L)
      .atZone(java.time.ZoneOffset.UTC)
    val d = Paths.get(cycle, "landing", s"year=${t.getYear}", s"month=${t.getMonthValue}",
      s"day=${t.getDayOfMonth}", s"hour=${t.getHour}", s"minute=${t.getMinute}",
      s"second=${t.getSecond}")
    Files.createDirectories(d)
    val tmp = Paths.get(cycle, "staging", s"data-$n.json")
    Files.writeString(tmp, s"""{"count": $k}""")
    dueOf.put(n, due)
    Files.move(tmp, d.resolve(s"data-$n.json"), StandardCopyOption.ATOMIC_MOVE)
    written.put(n, rec.now)
    n
  }

  private def await(n: Int, timeoutNs: Long): Boolean = {
    val limit = rec.now + timeoutNs
    while (!committed.containsKey(n) && rec.now < limit && query.isActive) Thread.sleep(2)
    committed.containsKey(n)
  }

  def setUp(spark: SparkSession, cycleDir: String): Unit = {
    cycle = cycleDir
    Files.createDirectories(Paths.get(cycle, "landing"))
    Files.createDirectories(Paths.get(cycle, "staging"))
    val sink = s"$cycle/sink"
    val batch: (DataFrame, Long) => Unit = (df, id) => rec.span("streaming", s"batch-$id") {
      val s = df.sparkSession
      val files = df.select(col("count"), input_file_name().as("f")).collect()
      val out = files.map { r =>
        val k = r.getLong(0).toInt
        val n = r.getString(1).replaceAll(".*data-([0-9]+)\\.json$", "$1").toInt
        val res = rec.span("timeseries", s"generate-$k") {
          reduce(Timeseries.generate(s, Start, k)).collect()(0)
        }
        (n, k, res.getLong(1), res.getDouble(0))
      }
      if (out.nonEmpty) {
        rec.span("sink", "append") {
          s.createDataFrame(out.toSeq).toDF("seq", "days", "rows", "std")
            .write.mode("append").parquet(sink)
        }
        val at = rec.now
        out.foreach { case (n, k, rows, std) => committed.put(n, (at, k, rows, std)) }
      }
    }
    query = rec.span("streaming", "start") {
      // the A2 key columns are discovered from the landing paths
      spark.readStream
        .schema("count LONG, year INT, month INT, day INT, hour INT, minute INT, second INT")
        .json(s"$cycle/landing")
        .writeStream
        .option("checkpointLocation", s"$cycle/checkpoint")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .foreachBatch(batch)
        .start()
    }
    // warm-up: one file through the whole path
    val n = drop(1, rec.now)
    require(await(n, 120L * 1000000000L), "warm-up file was not committed")
  }

  /** Files of each size through the stream, one at a time, so each size's
    * generate plan is compiled and JIT-warm before the window. */
  def warm(spark: SparkSession): Unit =
    Workload.ints(plan.get("warm_days")).foreach { k =>
      require(await(drop(k, rec.now), 120L * 1000000000L), "warm-up file was not committed")
    }

  /** The window follows the plan's schedule (run.py sizes it to the
    * window length), so `deadline` is not consulted. */
  def run(spark: SparkSession, deadline: Long): Seq[Op] = {
    val base = seq
    committed.clear(); dueOf.clear(); written.clear()
    val w0 = rec.now
    // the producer runs on its own thread and never waits for the consumer
    val producer = new Thread(() => ks.indices.foreach { i =>
      val due = w0 + (dueS(i) * 1e9).toLong
      val wait = due - rec.now
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      drop(ks(i), due)
    }, "producer")
    producer.start()
    producer.join()
    // a file still uncommitted 30 s after the last drop counts as failed
    (base until seq).foreach(n => await(n, 30L * 1000000000L))
    (base until seq).map { n =>
      val due = dueOf.get(n).longValue
      val c = Option(committed.get(n))
      Op(s"file-${phase(n - base)}", due, c.map(_._1).getOrElse(rec.now),
        c.map(_._1 - due).getOrElse(rec.now - due), None,
        detail = Map("phase" -> phase(n - base), "days" -> ks(n - base),
          "rows" -> c.map(_._3).getOrElse(-1L),
          "std" -> c.map(_._4).getOrElse(Double.NaN),
          "committed" -> c.isDefined,
          "lag_s" -> (written.get(n).longValue - due) / 1e9))
    }
  }

  def finish(spark: SparkSession, ops: Seq[Op]): (Seq[Op], Map[String, Any]) = {
    query.stop()
    // batch computation of the same reduction for each distinct k
    val expected = ops.map(_.detail("days").asInstanceOf[Int]).distinct.map { k =>
      k -> reduce(Timeseries.generate(spark, Start, k)).collect()(0).getDouble(0)
    }.toMap
    val checked = ops.map { o =>
      val k = o.detail("days").asInstanceOf[Int]
      val std = o.detail("std").asInstanceOf[Double]
      val ok = o.detail("committed") == true &&
        o.detail("rows") == k.toLong * 86400L &&
        math.abs(std - expected(k)) <= 1e-9 * math.max(1.0, math.abs(expected(k)))
      o.copy(ok = Some(ok))
    }
    // backlog = files written but not yet committed, at every write/commit
    val events = (written.values.asScala.map(t => (t.longValue, 1)) ++
      committed.values.asScala.map(c => (c._1, -1))).toSeq.sortBy(_._1)
    val backlog = events.scanLeft(0)(_ + _._2).max
    val sinkDir = Paths.get(cycle, "sink")
    val sinkFiles = Files.walk(sinkDir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    (checked, Map(
      "streaming.backlog_files_max" -> backlog,
      "producer.lag_s_max" -> ops.map(_.detail("lag_s").asInstanceOf[Double]).max,
      "sink.files_written" -> sinkFiles.size,
      "sink.mb_written" -> sinkFiles.map(Files.size).sum / 1048576.0))
  }
}

/** The LLM-curation chain over a generated corpus with planted truth:
  * near-duplicate clusters for dedup, planted neighbour vectors for IVF
  * search, and the keep-one-per-cluster property of the curation chain. */
final class LlmCuration(plan: JsonNode, rec: Recorder) extends Workload {
  private val chain = Workload.strings(plan.get("chain"))
  private val docs = plan.get("docs").asInt
  private val clusters = plan.get("clusters").elements.asScala
    .map(c => Workload.ints(c).map(_.toLong)).toSeq
  private val neighbours = plan.get("neighbours").elements.asScala
    .map(c => Workload.ints(c).map(_.toLong)).toSeq
  private val dedupFloor = plan.get("dedup_recall_floor").asDouble
  private val searchFloor = plan.get("search_recall_floor").asDouble
  private val plantedPairs = clusters.flatMap(c => c.combinations(2).map(p => (p(0), p(1))))
  private var dir = ""
  val partitions = mutable.ArrayBuffer[Int]()

  private def chainOnce(spark: SparkSession): Seq[Op] = chain.map { name =>
    val (s, e, rows, df) = Workload.query(spark, rec, Registry.byName(name), dir, partitions)
    check(name, s, e, rows, df)
  }

  /** Planted truth for the approximate operators; oracled queries are
    * hashed and compared with DuckDB by run.py. */
  private def check(name: String, s: Long, e: Long, rows: Array[Row], df: DataFrame): Op =
    name match {
    case "q_dedup_minhash" =>
      val found = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      val hit = plantedPairs.count { case (a, b) => found((a, b)) || found((b, a)) }
      val recall = hit.toDouble / plantedPairs.size
      Op(name, s, e, e - s, Some(recall >= dedupFloor), detail = Map("recall" -> recall))
    case "q_similarity_ivf" =>
      val top = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
      val wanted = neighbours.flatMap(p => Seq((p(0), p(1)), (p(1), p(0))))
      val recall = wanted.count(top).toDouble / wanted.size
      Op(name, s, e, e - s, Some(recall >= searchFloor), detail = Map("recall" -> recall))
    case _ => Op(name, s, e, e - s, None, Check.hash(df.schema, rows))
  }

  def setUp(spark: SparkSession, cycleDir: String): Unit = {
    dir = s"$cycleDir/corpus"
    // the first operation builds the staged shingle index the chain shares
    Workload.query(spark, rec, Registry.byName(chain.head), dir, partitions)
  }

  /** The rest of the cold chain: IVF training and the curation memos. */
  def warm(spark: SparkSession): Unit =
    chain.tail.foreach(q => Workload.query(spark, rec, Registry.byName(q), dir, partitions))

  def run(spark: SparkSession, deadline: Long): Seq[Op] = {
    partitions.clear()
    Workload.untilDeadline(rec, deadline)(chainOnce(spark))
  }

  def finish(spark: SparkSession, ops: Seq[Op]): (Seq[Op], Map[String, Any]) = {
    def recalls(q: String) = ops.filter(_.name == q).map(_.detail("recall").asInstanceOf[Double])
    (ops, Map("docs" -> docs, "chains" -> ops.size / chain.size,
      "oracle_sql" -> chain.flatMap(q => Registry.byName(q).oracle.map(q -> _)).toMap,
      "dedup_recall" -> (if (recalls("q_dedup_minhash").isEmpty) 0.0 else recalls("q_dedup_minhash").min),
      "search_recall" -> (if (recalls("q_similarity_ivf").isEmpty) 0.0 else recalls("q_similarity_ivf").min),
      "initial_partitions_mean" ->
        (if (partitions.isEmpty) 0.0 else partitions.sum.toDouble / partitions.size)))
  }
}
