package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: sets the workload up, runs its operations in a
  * closed loop (one client, each operation after the previous one ends):
  * one pass of the operation sequence, then more while the requested seconds
  * have not passed; and writes what it measured as JSON. Output checks and
  * metric arithmetic happen afterwards, in `run.py`.
  *
  * Usage: `Main <plan.json>`; the plan (written by `run.py`) names the
  * workload, the generated inputs, the run's private directories, the
  * operations and the run length. */
object Main {
  private val json = new ObjectMapper()

  final case class Exec(pass: Int, op: String, kind: String, t0: Long,
      tBuild: Long, tPlan: Long, tEnd: Long, ms0: Long, ms1: Long,
      rows: Long, fp: String, err: String, built: Seq[String],
      result: Option[String], inline: Option[Array[Row]],
      bytesAfter: Option[Long] = None)

  def main(args: Array[String]): Unit = {
    val jvmBootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    run(args(0), jvmBootS)
  }

  def run(planFile: String, jvmBootS: Double): Unit = {
    val plan = json.readTree(new File(planFile))
    val p = new Plan(plan)
    val out = new File(p.outDir)
    out.mkdirs()

    // ---- set-up: the session, then the workload's seeding (e.g. the CTAS)
    val t0 = System.nanoTime()
    val spark = session(p)
    val t1 = System.nanoTime()
    val state = Workload(p, spark)
    state.seed()
    val setupS = Seq(t1 - t0, System.nanoTime() - t1).map(_ / 1e9)

    val tap = if (p.trace) Some(Tap.install(spark)) else None
    val spans = new Spans
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var peakHeapMb = 0.0
    val gc0 = gcMillis

    val runStart = System.nanoTime()
    val root = spans.open("workload:" + p.workload, -1, runStart)
    val deadline = runStart + (p.seconds * 1e9).toLong
    var pass = 0
    while ((pass == 0 || System.nanoTime() < deadline) && state.hasPass(pass)) {
      val pt0 = System.nanoTime()
      val passSpan = spans.open(s"pass:$pass", root, pt0)
      for (op <- state.ops(pass)) {
        val e = runOp(spark, p, op, pass, execs.length, spans, passSpan)
        execs += e
      }
      val pt1 = System.nanoTime()
      spans.close(passSpan, pt1)
      passWalls += (pt1 - pt0) / 1e9
      state.afterPass(pass)
      // peak heap after a full collection, sampled between passes so the
      // collection itself is outside every timed operation
      System.gc(); System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
      pass += 1
    }
    spans.close(root, System.nanoTime())
    val gcS = (gcMillis - gc0) / 1e3

    // ---- after the measured interval: results the checks need
    val fin = state.finish()
    tap.foreach(_.drain(spark))

    val o = json.createObjectNode()
    o.put("workload", p.workload)
    o.put("jvm_boot_s", jvmBootS)
    // [session, workload seeding] seconds
    val su = o.putArray("setup_s"); setupS.foreach(su.add(_))
    val pw = o.putArray("pass_wall_s"); passWalls.foreach(pw.add(_))
    o.put("peak_heap_mb", peakHeapMb)
    o.put("gc_s", gcS)
    val env = o.putObject("env")
    env.put("cores", p.cores)
    env.put("shuffle_partitions", p.cores)
    env.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    env.put("gc", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getName).mkString(","))
    env.put("spark", spark.version)
    env.put("java", System.getProperty("java.version"))
    o.set[JsonNode]("final", fin)
    val ea = o.putArray("execs")
    execs.zipWithIndex.foreach { case (e, i) =>
      val n = ea.addObject()
      n.put("i", i); n.put("pass", e.pass); n.put("op", e.op)
      n.put("kind", e.kind)
      n.put("build_s", (e.tBuild - e.t0) / 1e9)
      n.put("plan_s", (e.tPlan - e.tBuild) / 1e9)
      n.put("exec_s", (e.tEnd - e.tPlan) / 1e9)
      n.put("latency_s", (e.tEnd - e.t0) / 1e9)
      n.put("rows", e.rows); n.put("fp", e.fp)
      if (e.err != null) n.put("error", e.err)
      e.bytesAfter.foreach(n.put("bytes_after", _))
      val b = n.putArray("built"); e.built.foreach(b.add)
      e.result.foreach(n.put("result", _))
      e.inline.foreach { rs =>
        val a = n.putArray("values")
        rs.foreach { r =>
          val ra = a.addArray()
          r.toSeq.foreach {
            case null => ra.addNull()
            case v: java.lang.Long => ra.add(v.longValue)
            case v: java.lang.Integer => ra.add(v.intValue)
            case v: java.lang.Double => ra.add(v.doubleValue)
            case v => ra.add(v.toString)
          }
        }
      }
    }
    tap.foreach { t =>
      val jobs = t.jobsByExec(execs.toSeq.map(e => (e.ms0, e.ms1)))
      val ja = o.putArray("jobs")
      jobs.foreach { j =>
        val n = ja.addObject()
        n.put("exec", j.exec); n.put("job", j.id)
        n.put("start_ms", j.startMs); n.put("end_ms", j.endMs)
        n.put("stages", j.stages); n.put("tasks", j.tasks)
        n.put("shuffle_read_b", j.shuffleRead)
        n.put("shuffle_write_b", j.shuffleWrite)
        n.put("input_b", j.input); n.put("spill_b", j.spill)
      }
      // spans: workload -> pass -> operation -> phase, plus one span per
      // Spark job under the phase that was running when it started
      val base = (runStart, execs.headOption.map(_.ms0).getOrElse(0L),
        execs.headOption.map(_.t0).getOrElse(runStart))
      val toNs = (ms: Long) => base._3 + (ms - base._2) * 1000000L
      jobs.filter(_.exec >= 0).foreach { j =>
        val start = toNs(j.startMs)
        spans.add(s"job:${j.id}", spans.phaseAt(j.exec, start), start,
          toNs(j.endMs))
      }
      Files.writeString(Paths.get(p.outDir, "trace.json"),
        spans.toJson(runStart))
    }
    Files.writeString(Paths.get(p.outDir, "run.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(o))
    spark.stop()
  }

  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def session(p: Plan): SparkSession = {
    val w = p.workDir
    SparkSession.builder()
      .master(s"local[${p.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", p.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.workDir}/local")
      .config("spark.sql.warehouse.dir", s"$w/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$w/checkpoints")
      .config("spark.sql.catalog.bench", "graft.plans.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$w/warehouse")
      .getOrCreate()
      .tap(_.sparkContext.setLogLevel("WARN"))
  }

  /** One operation, timed in three phases: build (the registry call or
    * statement submission, including any eager work inside it), plan (to
    * the executed plan) and exec (an action that computes every output
    * column: collect). Checking data is gathered after `tEnd`. */
  private def runOp(spark: SparkSession, p: Plan, op: Op, pass: Int,
      idx: Int, spans: Spans, parent: Int): Exec = {
    val built0 = graft.operators.BuildLog.snapshot.keySet
    spark.sparkContext.setJobGroup(s"exec-$idx", op.name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tBuild, tPlan = t0
    var rows: Array[Row] = null
    var df: DataFrame = null
    var err: String = null
    try {
      df = op.build(spark)
      tBuild = System.nanoTime()
      df.queryExecution.executedPlan
      tPlan = System.nanoTime()
      rows = df.collect()
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
        if (tBuild == t0) tBuild = System.nanoTime()
        if (tPlan == t0) tPlan = tBuild
    }
    val tEnd = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val s = spans.open(s"op:${op.name}", parent, t0, exec = idx)
    spans.add("phase:build", s, t0, tBuild)
    spans.add("phase:plan", s, tBuild, tPlan)
    spans.add("phase:exec", s, tPlan, tEnd)
    spans.close(s, tEnd)
    val built = (graft.operators.BuildLog.snapshot.keySet -- built0).toSeq.sorted
    val bytesAfter = op.bytes.map(_())
    if (err != null)
      Exec(pass, op.name, op.kind, t0, tBuild, tPlan, tEnd, ms0, ms1, 0, "",
        err, built, None, None, bytesAfter)
    else {
      val kept = if (p.corrupt.contains(op.name) && rows.nonEmpty)
        rows.dropRight(1) else rows
      val result = op.save(pass).map { rel =>
        val path = s"${p.outDir}/results/$rel"
        spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        rel
      }
      Exec(pass, op.name, op.kind, t0, tBuild, tPlan, tEnd, ms0, ms1,
        kept.length, fingerprint(kept), null, built, result,
        if (op.inline) Some(kept) else None, bytesAfter)
    }
  }

  /** Order-insensitive digest of a result: row count plus the sum of the
    * rows' 64-bit string hashes. */
  def fingerprint(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = r.toString
      acc += (scala.util.hashing.MurmurHash3.stringHash(s).toLong << 32) ^
        s.hashCode.toLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(acc)}"
  }
}

/** The plan file, parsed. */
final class Plan(n: JsonNode) {
  val workload: String = n.get("workload").asText
  val sfDir: String = n.get("sf_dir").asText
  val workDir: String = n.get("work_dir").asText
  val outDir: String = n.get("out_dir").asText
  val seconds: Double = n.get("seconds").asDouble
  val trace: Boolean = n.get("trace").asBoolean
  val cores: Int = n.get("cores").asInt
  val corrupt: Option[String] =
    Option(n.get("corrupt")).filterNot(_.isNull).map(_.asText)
  val node: JsonNode = n
}

/** One operation of a pass. `save(pass)` names the result file the checks
  * read, when this execution's output is to be kept; `inline` keeps the
  * rows in run.json instead; `bytes` sizes the table after the operation. */
final case class Op(name: String, kind: String,
    build: SparkSession => DataFrame, save: Int => Option[String],
    inline: Boolean = false, bytes: Option[() => Long] = None)

trait Workload {
  def seed(): Unit
  def hasPass(pass: Int): Boolean
  def ops(pass: Int): Seq[Op]
  def afterPass(pass: Int): Unit = ()
  def finish(): JsonNode
}

object Workload {
  def apply(p: Plan, spark: SparkSession): Workload =
    p.workload match {
      case "table_dml" => new TableDml(p, spark)
      case _ => new RegistryQueries(p, spark)
    }
}

/** `etl_events` and `llm_curation`: the same list of registry queries,
  * pass after pass. The first execution of each query keeps its result
  * for the oracle check; later ones are checked by digest against it. */
final class RegistryQueries(p: Plan, spark: SparkSession) extends Workload {
  private val names = p.node.get("queries").elements().asScala.map(_.asText).toSeq
  private val registry = graft.SparkEntry.queries
  private val list = names.zipWithIndex.map { case (n, i) =>
    val fn = registry.getOrElse(n, sys.error(s"no registry query $n"))
    val first = names.indexOf(n) == i
    Op(n, "query", s => fn(s, p.sfDir),
      pass => if (pass == 0 && first) Some(n) else None)
  }
  def seed(): Unit = ()
  def hasPass(pass: Int): Boolean = true
  def ops(pass: Int): Seq[Op] = list
  def finish(): JsonNode = {
    val o = new ObjectMapper().createObjectNode()
    val oracle = graft.SparkEntry.oracleSql
    val os = o.putObject("oracle")
    names.filter(oracle.contains).foreach(n => os.put(n, oracle(n)))
    val b = o.putObject("artifact_build_s")
    graft.operators.BuildLog.snapshot.toSeq.sorted.foreach {
      case (k, v) => b.put(k, v)
    }
    o
  }
}

/** `table_dml`: a committed table under the `bench` catalog, then rounds of
  * SQL writes and reads (parameters from the generated `rounds.json`). */
final class TableDml(p: Plan, spark: SparkSession) extends Workload {
  private val cfg = p.node.get("table")
  private val dmlDir = cfg.get("dml_dir").asText
  private val rounds: Seq[JsonNode] = new ObjectMapper()
    .readTree(new File(s"$dmlDir/rounds.json")).elements().asScala.toSeq
  private val compactEvery = cfg.get("compact_every").asInt
  private val width = cfg.get("partition_width").asLong
  private val name = "bench.db.li"
  private val path = s"${p.workDir}/warehouse/db/li"
  private val roundEnd = mutable.ArrayBuffer.empty[Long]
  private val cols = "id, l_orderkey, l_partkey, l_linenumber, l_quantity, " +
    "l_extendedprice, l_discount, l_returnflag"
  private val sizes = new ObjectMapper().createArrayNode()

  private def sql(s: String): DataFrame = spark.sql(s)
  private def current: (Long, Long) = {
    val r = sql(s"SELECT snapshot_id, n_files FROM graft_table_history('$path') " +
      "ORDER BY snapshot_id DESC LIMIT 1").head()
    (r.getLong(0), r.getLong(1))
  }

  def seed(): Unit = {
    sql(s"CREATE TABLE $name PARTITIONED BY (truncate($width, l_orderkey)) AS " +
      s"SELECT $cols FROM parquet.`$dmlDir/base.parquet`").collect()
    sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      "('graft.retention.generations' = '16')").collect()
    val s0 = current._1
    sql(s"CALL bench.system.tag('db.li', 'consumer', $s0)").collect()
    roundEnd += current._1
    seedBytes = dirBytes(new File(path))
  }
  private var seedBytes = 0L

  def hasPass(pass: Int): Boolean = pass < rounds.length

  private def band(r: JsonNode, k: String): (Long, Long) =
    (r.get(k).get(0).asLong, r.get(k).get(1).asLong)

  def ops(pass: Int): Seq[Op] = {
    val r = rounds(pass)
    val (dlo, dhi) = band(r, "delete")
    val (ulo, uhi) = band(r, "update")
    val (rlo, rhi) = band(r, "range")
    val point = r.get("point").asLong
    def keys(stmt: String, lo: Long, hi: Long): String =
      if (r.get("between").asText == stmt) s"l_orderkey BETWEEN $lo AND $hi"
      else s"l_orderkey >= $lo AND l_orderkey <= $hi"
    val prev = roundEnd.last
    def read(n: String, q: String): Op =
      Op(n, "read", _ => sql(q), _ => None, inline = true)
    def write(n: String, q: String): Op =
      Op(n, "write", _ => sql(q), _ => None, inline = true,
        bytes = Some(() => dirBytes(new File(path))))
    val base = Seq(
      write("insert", s"INSERT INTO $name SELECT $cols FROM " +
        s"parquet.`$dmlDir/ins_$pass.parquet`"),
      write("merge", s"MERGE INTO $name t USING (SELECT $cols FROM " +
        s"parquet.`$dmlDir/mrg_$pass.parquet`) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
      write("delete", s"DELETE FROM $name WHERE ${keys("delete", dlo, dhi)}"),
      write("update", s"UPDATE $name SET l_quantity = l_quantity + 1, " +
        s"l_returnflag = 'U' WHERE ${keys("update", ulo, uhi)}"),
      read("select_point", s"SELECT $cols FROM $name WHERE l_orderkey = $point " +
        "ORDER BY id"),
      read("select_range", s"SELECT $cols FROM $name WHERE l_orderkey " +
        s"BETWEEN $rlo AND $rhi ORDER BY id"),
      read("select_scan", s"SELECT l_returnflag, count(*) AS n, " +
        "sum(CAST(l_quantity AS BIGINT)) AS q, " +
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p " +
        s"FROM $name GROUP BY l_returnflag ORDER BY l_returnflag"),
      read("time_travel", "SELECT count(*) AS n, sum(id) AS s_id, " +
        "sum(CAST(l_quantity AS BIGINT)) AS q, " +
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p " +
        s"FROM $name VERSION AS OF $prev"),
      // the change-feed consumer reads from its tagged position to the
      // newest snapshot, then moves its tag (the retention lease)
      Op("feed", "read", s => {
        val to = current._1
        val feed = sql(s"SELECT $cols, _change_type FROM " +
          s"graft_table_feed('$path', $prev, $to)")
        val rows = feed.collect()
        sql("CALL bench.system.drop_tag('db.li', 'consumer')").collect()
        sql(s"CALL bench.system.tag('db.li', 'consumer', $to)").collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), feed.schema)
      }, ps => Some(f"r$ps%04d_feed")))
    val maint = if ((pass + 1) % compactEvery == 0) Seq(
      write("compact", s"CALL bench.system.compact('db.li', " +
        s"'${partitionDirs.mkString(",")}', 'l_orderkey', 1)"),
      write("vacuum", "CALL bench.system.vacuum('db.li')"))
    else Nil
    base ++ maint
  }

  private def partitionDirs: Seq[String] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("="))
      .map(_.getName).sorted.toSeq

  override def afterPass(pass: Int): Unit = {
    val (id, files) = current
    roundEnd += id
    val n = sizes.addObject()
    n.put("round", pass); n.put("snapshot", id); n.put("files_live", files)
    n.put("dir_bytes", dirBytes(new File(path)))
    n.put("dv_files", dvFiles(new File(path)))
    n.put("snapshots", sql(s"SELECT count(*) FROM graft_table_history('$path')")
      .head().getLong(0))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(dirBytes).sum
    else f.length

  private def dvFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map { c =>
      if (c.isDirectory) dvFiles(c)
      else if (c.getParentFile.getName == "_dv" ||
        c.getPath.contains("/_dv/")) 1L else 0L
    }.sum
    else 0L

  /** Final state for the model check, and the compact size of the live
    * rows (the denominator of space amplification). */
  def finish(): JsonNode = {
    val o = new ObjectMapper().createObjectNode()
    val live = sql(s"SELECT $cols FROM $name")
    live.write.mode("overwrite").parquet(s"${p.outDir}/results/final_state")
    val compact = s"${p.workDir}/compact_live"
    live.coalesce(1).write.mode("overwrite").parquet(compact)
    o.put("table_bytes", dirBytes(new File(path)))
    o.put("seed_bytes", seedBytes)
    o.put("compact_live_bytes", dirBytes(new File(compact)))
    o.set[JsonNode]("rounds", sizes)
    o
  }
}
