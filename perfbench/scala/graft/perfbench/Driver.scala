package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.dedup.{ConnectedComponents, MinHashLSH}
import graft.pipeline.{MultiSpec, Pipes}
import graft.sources.Readers

/** The benchmark's JVM side: one Spark session, one job at a time (a closed
  * loop with one client). perfbench/run.py generates the input, starts this
  * driver, checks the outputs it leaves behind and prints the metrics.
  *
  * {{{
  * java -cp <classpath from perfbench/build.py> graft.perfbench.Driver \
  *   --workload fanout --input <dir> --work <dir> --result <file> \
  *   --seconds 15 --trace 0 --setups 3 --clock-ticks 100 --spec "hits|grep x|NONE" ...
  * }}}
  *
  * Phases: `setups` times (session creation + one warm-up job, then the
  * session is stopped and made again, except after the last); one job that
  * is not measured; then jobs back to back for `seconds`, at least three (a median of three holds
  * against one slow job). With `--trace 1` untraced and traced jobs
  * alternate, at least two of each; the traced ones' spans and listener
  * counters give the per-layer metrics.
  */
object Driver {

  final case class Conf(workload: String, input: String, work: String,
      result: String, seconds: Double, trace: Boolean, setups: Int,
      clockTicks: Double, specs: Seq[String], ship: Seq[String],
      shingleN: Int, tau: Double, probe: Seq[String])

  def parse(argv: Array[String]): Conf = {
    val one = mutable.Map.empty[String, String]
    val many = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    argv.grouped(2).foreach {
      case Array(k, v) if Set("--spec", "--ship", "--probe")(k) =>
        many.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
      case Array(k, v) if k.startsWith("--") => one(k) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    def get(k: String) = one.getOrElse(k, sys.error(s"missing $k"))
    Conf(get("--workload"), get("--input"), get("--work"), get("--result"),
      get("--seconds").toDouble, get("--trace") == "1", get("--setups").toInt,
      get("--clock-ticks").toDouble,
      many.get("--spec").map(_.toSeq).getOrElse(Nil),
      many.get("--ship").map(_.toSeq).getOrElse(Nil),
      one.getOrElse("--shingle-n", "3").toInt,
      one.getOrElse("--tau", "0.7").toDouble,
      many.get("--probe").map(_.toSeq).getOrElse(Nil))
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val workload = conf.workload match {
      case "fanout" => new Fanout(conf)
      case "neardup_curate" => new NeardupCurate(conf)
      case other => sys.error(s"unknown workload $other")
    }
    val meters = new ProcessMeters(conf.clockTicks)
    val out = new File(conf.work, "out")
    val result = new Json

    // set-up: session creation plus one warm-up job, `setups` times
    var spark: SparkSession = null
    val setups = (0 until conf.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.create()
      val t1 = System.nanoTime()
      workload.job(spark, new File(out, s"warmup$i").getPath)
      val t2 = System.nanoTime()
      release(spark)
      delete(new File(out, s"warmup$i"))
      Map("create_s" -> (t1 - t0) / 1e9, "warmup_job_s" -> (t2 - t1) / 1e9)
    }
    result.put("setups", setups)
    // one more job, not measured: the JIT is still settling after the
    // set-up jobs (the first measured job used to take ~25% longer)
    workload.job(spark, new File(out, "settle").getPath)
    release(spark)
    delete(new File(out, "settle"))

    // measured, untraced jobs
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastOut: File = null
    def runJob(traced: Option[(Tracer, JobListener)]): Map[String, Any] = {
      val dir = new File(out, s"j${jobs.size}")
      System.gc()
      meters.resetPeak()
      val (gcS0, gcN0) = meters.gc()
      val (cpu0, child0) = meters.cpu()
      val t0 = System.nanoTime()
      val layers = traced match {
        case None => workload.job(spark, dir.getPath); Map.empty[String, Double]
        case Some((tracer, listener)) =>
          tracer.trace = jobs.size
          workload.traced(spark, dir.getPath, tracer, listener)
      }
      // a traced job's counting and planning after its job span is not job time
      val wall = traced.fold((System.nanoTime() - t0) / 1e9)(t => dur(t._1.last("job")))
      val (cpu1, child1) = meters.cpu()
      val (gcS1, gcN1) = meters.gc()
      release(spark)
      System.gc()
      val rec = Map[String, Any]("wall_s" -> wall,
        "cpu_s" -> (cpu1 - cpu0 + child1 - child0), "child_cpu_s" -> (child1 - child0),
        "peak_heap_mb" -> meters.peakHeapMb, "gc_s" -> (gcS1 - gcS0),
        "gc_count" -> (gcN1 - gcN0), "traced" -> traced.isDefined, "layers" -> layers,
        "out" -> dir.getPath)
      jobs += rec
      if (lastOut != null) delete(lastOut)
      lastOut = dir
      rec
    }
    def loop(seconds: Double, minJobs: Int)(job: => Double): Unit = {
      val start = System.nanoTime()
      var n = 0
      var lastWall = 0.0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (n < minJobs || elapsed + lastWall <= seconds) {
        lastWall = job
        n += 1
      }
    }
    def wall(rec: Map[String, Any]) = rec("wall_s").asInstanceOf[Double]

    if (!conf.trace) loop(conf.seconds, 3)(wall(runJob(None)))
    else {
      val tracer = new Tracer
      val listener = new JobListener
      // planning alone, once, outside any job: MultiPipeline.run() resolves
      // every spec and plans every branch (exec'd reducers materialise their
      // map side while planning)
      val (native, execd) = tracer.span("multispec.plan") { workload.plan(spark) }
      result.put("plan", Map("multispec.plan_s" -> dur(tracer.last("multispec.plan")),
        "multispec.native_branches" -> native, "multispec.exec_branches" -> execd))
      // untraced and traced jobs alternate, so both see the same JIT state
      loop(conf.seconds, 2) {
        val untraced = wall(runJob(None))
        spark.sparkContext.addSparkListener(listener)
        try untraced + wall(runJob(Some((tracer, listener))))
        finally spark.sparkContext.removeSparkListener(listener)
      }
      result.put("probes", conf.probe.zipWithIndex.map { case (spec, i) =>
        val dir = new File(conf.work, s"probe$i")
        val error = try { workload.probe(spark, spec, dir.getPath); "" } catch {
          case e: Exception => Option(e.getMessage).getOrElse(e.toString).linesIterator
            .nextOption().getOrElse(e.toString)
        }
        Map("spec" -> spec, "error" -> error, "out" -> dir.getPath)
      })
      result.put("spans", tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    }
    result.put("jobs", jobs.toSeq)
    result.put("last_out", lastOut.getPath)
    spark.stop()
    result.write(new File(conf.result))
  }

  /** Drops every cached or checkpointed block a job left behind, so each job
    * starts from the same state (a CLI user runs one job per JVM).
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** Data files (not markers or checksums) under `dir`. */
  def dataFiles(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.map(dataFiles).sum
    else if (dir.getName.startsWith("_") || dir.getName.startsWith(".")) 0L
    else 1L

  /** Per-layer counters every workload reports from its traced jobs. */
  def commonLayers(l: JobListener, wallS: Double, cores: Int, out: File): Map[String, Double] = {
    val t = l.total
    val (children, linesIn, linesOut, execBusyMs) = l.execStages
    val files = dataFiles(out)
    val (scanBytes, scanTasks) = l.scanned
    Map(
      "scan.bytes_read" -> scanBytes.toDouble,
      "scan.tasks" -> scanTasks.toDouble,
      "fanout.slot_utilization" -> t.runMs / 1000.0 / (wallS * cores),
      "fanout.scheduler_delay_s" -> t.schedDelayMs / 1000.0,
      "exec.children" -> children.toDouble,
      "exec.lines_in" -> linesIn.toDouble,
      "exec.lines_out" -> linesOut.toDouble,
      "exec.jvm_busy_s" -> execBusyMs / 1000.0,
      "shuffle.write_bytes" -> t.shWriteBytes.toDouble,
      "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1000.0,
      "shuffle.spill_bytes" -> t.spillBytes.toDouble,
      "shuffle.reduce_skew" -> l.reduceSkew,
      "write.bytes" -> t.outBytes.toDouble,
      "write.records" -> t.outRecords.toDouble,
      "write.files" -> files.toDouble,
      "job.task_cpu_s" -> t.cpuNs / 1e9)
  }

  /** Drains Spark's listener bus, so every event of the finished job has
    * reached the listener.
    */
  def drain(spark: SparkSession): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  trait Workload {
    /** One job of the workload: read the generated input, write under `out`. */
    def job(spark: SparkSession, out: String): Unit
    /** The same job with spans around each layer call; returns its counters. */
    def traced(spark: SparkSession, out: String, tracer: Tracer, l: JobListener): Map[String, Double]
    /** Plans the job without running it: (native, exec'd) fan-out branches. */
    def plan(spark: SparkSession): (Int, Int) = (0, 0)
    /** Runs one known-defect spec the workload's way, writing under `out`. */
    def probe(spark: SparkSession, spec: String, out: String): Unit =
      sys.error(s"no probes for ${getClass.getSimpleName}")
  }

  /** `fanout`: one log corpus fanned out to `-multiple` specs, most of them
    * resolving to native stages and some exec'ing real children (awk mappers
    * and a keyed, sorted awk reducer, one `-file`-shipped script), all
    * written concurrently as parquet. The text column is named `line`: an
    * exec'd reducer over a column named `value` loses its key (Pipes.keyBy
    * overwrites `value`), which is one of the known-defect probes.
    */
  final class Fanout(conf: Conf) extends Workload {
    private val registry: MultiSpec.Registry = Map(
      "wordcount" -> Pipes.wordcount("line"),
      "keyagg" -> Pipes.keyBy("line", "\t", 1).andThen(
        _.groupBy(col("key")).agg(count(lit(1)).as("cnt"),
          sum(split(col("value"), "\t").getItem(1).cast("long")).as("amt"))))

    private def pipeline(spark: SparkSession, specs: Seq[String]) =
      MultiSpec.pipeline(Readers.text(spark, conf.input).withColumnRenamed("value", "line"),
        "line", specs, registry, ship = conf.ship)

    def job(spark: SparkSession, out: String): Unit =
      pipeline(spark, conf.specs).write(out, "parquet")

    /** Probes run on the text reader's own `value` column, as the CLI does. */
    override def probe(spark: SparkSession, spec: String, out: String): Unit =
      MultiSpec.pipeline(Readers.text(spark, conf.input), "value", Seq(spec), registry,
        ship = conf.ship).write(out, "parquet")

    def traced(spark: SparkSession, out: String, tracer: Tracer, l: JobListener): Map[String, Double] = {
      drain(spark)
      l.reset()
      tracer.span("job") {
        tracer.span("fanout.write") { pipeline(spark, conf.specs).write(out, "parquet") }
      }
      val wall = dur(tracer.last("job"))
      drain(spark)
      fanoutLayers(spark, out, tracer, l, wall)
    }

    /** Plans the branches, without writing; (native, exec'd) branch counts. */
    override def plan(spark: SparkSession): (Int, Int) = {
      val planned = pipeline(spark, conf.specs).run().values.toSeq
      val execd = planned.count(_.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      (planned.size - execd, execd)
    }
  }

  def dur(s: Span): Double = (s.endMs - s.startMs) / 1000.0

  /** Fan-out counters; adds one span per branch (its SQL execution) under
    * the write span.
    */
  def fanoutLayers(spark: SparkSession, out: String, tracer: Tracer, l: JobListener,
      wall: Double): Map[String, Double] = {
    val write = tracer.last("fanout.write")
    val branches = l.branches(out)
    branches.toSeq.sortBy(_._1).foreach { case (name, x) =>
      tracer.add(write.id, s"branch.$name", x.startMs.toDouble, x.endMs.toDouble)
    }
    val perBranch = branches.flatMap { case (name, x) => Seq(
      s"pipes.$name.busy_s" -> x.sums.runMs / 1000.0,
      s"pipes.$name.cpu_s" -> x.sums.cpuNs / 1e9,
      s"pipes.$name.records_out" -> x.sums.outRecords.toDouble) }
    val critical = if (branches.isEmpty) 0.0
      else branches.values.map(x => (x.endMs - x.startMs) / 1000.0).max
    commonLayers(l, wall, spark.sparkContext.defaultParallelism, new File(out)) ++
      perBranch ++ Map("fanout.write_s" -> dur(write), "fanout.critical_branch_s" -> critical)
  }

  /** `neardup_curate`: MinHash LSH near-duplicate pairs, connected
    * components over them, and the corpus with one document (the minimum
    * id) kept per cluster.
    */
  final class NeardupCurate(conf: Conf) extends Workload {
    private def docs(spark: SparkSession): DataFrame =
      Readers.kvText(spark, conf.input)
        .select(col("k").cast("long").as("id"), col("v").as("text"))

    private def keep(docs: DataFrame, labels: DataFrame): DataFrame =
      docs.join(labels.filter(col("label") =!= col("id")).select("id"), Seq("id"), "left_anti")

    def job(spark: SparkSession, out: String): Unit = {
      val d = docs(spark)
      val pairs = MinHashLSH.nearDuplicates(d, "id", "text", conf.shingleN, conf.tau)
        .localCheckpoint()
      pairs.write.parquet(s"$out/pairs")
      val labels = ConnectedComponents.labels(pairs.select("id_a", "id_b"))
      keep(d, labels).write.parquet(s"$out/kept")
    }

    /** The job with each step materialised in turn. The verify step is
      * MinHashLSH.nearDuplicates' own (exact Jaccard over candidate pairs);
      * the output checks hold this run to the same pairs as the untraced one.
      */
    def traced(spark: SparkSession, out: String, tracer: Tracer, l: JobListener): Map[String, Double] = {
      drain(spark)
      l.reset()
      val c = mutable.Map.empty[String, Double]
      tracer.span("job") {
        val d = tracer.span("scan") {
          graft.util.Fanout.ensure(docs(spark)).localCheckpoint()
        }
        val sh = tracer.span("minhash.shingle") {
          MinHashLSH.shingled(d, "id", "text", conf.shingleN).localCheckpoint()
        }
        val shRow = sh.agg(count(lit(1)), sum(size(col("shingles")))).head()
        c("minhash.docs") = shRow.getLong(0).toDouble
        c("minhash.shingles") = shRow.getLong(1).toDouble
        val bandDf = tracer.span("minhash.signature") {
          MinHashLSH.bands(MinHashLSH.signatures(sh)).localCheckpoint()
        }
        val cand = tracer.span("lsh.candidates") {
          MinHashLSH.candidates(bandDf).localCheckpoint()
        }
        c("lsh.candidate_pairs") = cand.count().toDouble
        val pairs = tracer.span("lsh.verify") {
          val shA = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
          val shB = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
          cand.join(shA, "id_a").join(shB, "id_b")
            .withColumn("jaccard", round(
              size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
                size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
            .filter(col("jaccard") >= conf.tau)
            .select(col("id_a"), col("id_b"), col("jaccard"))
            .localCheckpoint()
        }
        val verified = pairs.count()
        c("lsh.verified_pairs") = verified.toDouble
        tracer.span("write.pairs") { pairs.write.parquet(s"$out/pairs") }
        val labels = tracer.span("cc.labels") {
          ConnectedComponents.labels(pairs.select("id_a", "id_b")).localCheckpoint()
        }
        c("cc.edges") = verified.toDouble
        c("cc.driver_path") =
          if (verified <= ConnectedComponents.DriverUnionFindMaxEdges) 1.0 else 0.0
        c("cc.clusters") = labels.select("label").distinct().count().toDouble
        tracer.span("write.kept") { keep(d, labels).write.parquet(s"$out/kept") }
      }
      val wall = dur(tracer.last("job"))
      drain(spark)
      commonLayers(l, wall, spark.sparkContext.defaultParallelism, new File(out)) ++ c ++ Map(
        "minhash.shingle_s" -> dur(tracer.last("minhash.shingle")),
        "minhash.signature_s" -> dur(tracer.last("minhash.signature")),
        "lsh.candidates_s" -> dur(tracer.last("lsh.candidates")),
        "lsh.verify_s" -> dur(tracer.last("lsh.verify")),
        "cc.labels_s" -> dur(tracer.last("cc.labels")))
    }
  }
}

/** Minimal JSON writer for the driver's result file. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = fields(k) = v

  private def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => enc(other.toString)
  }

  def write(f: File): Unit =
    java.nio.file.Files.write(f.toPath, enc(fields).getBytes("UTF-8"))
}
