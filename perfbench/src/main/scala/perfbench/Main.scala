package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.Er
import graft.pipeline.{PipelineConfig, ResolvePipeline}

/** One benchmark run in one JVM: set up a workload's input from the
  * seed, run the program on it for the measuring window, check its
  * outputs, and write a result file (see `perfbench/run.py`, which
  * builds the program, starts this JVM and prints the result line).
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --threads T --work DIR --result FILE
  * Main --leg 1 --threads T --work DIR      (one scaling leg, own JVM)
  * }}}
  */
object Main {

  /** Fixed shuffle partitioning, the same at every thread count. */
  val Parts = 4

  /** Workload sizes and settings (see perfbench/README.md). */
  object Skewed {
    val Entities = 1000
    val Exponent = 2.0
    val MaxCount = 3000
    // caps small enough that, at this corpus size, the hot entities'
    // blocks take the salted path and the most crowded blocks are dropped
    val MaxBlockSize = 64
    val SaltedMaxBlockSize = 128
    val Retuned = "0.90,0.80,0.60"

    /** ResolveJob options of the workload's job. */
    def opts(input: Path, ckpt: Path, out: Path, extra: (String, String)*): Map[String, String] = Map(
      "input" -> input.toString, "output" -> out.toString,
      "checkpoint-dir" -> ckpt.toString, "write-provenance" -> "true",
      "shuffle-partitions" -> Parts.toString,
      "max-block-size" -> MaxBlockSize.toString,
      "salted-max-block-size" -> SaltedMaxBlockSize.toString) ++ extra
  }
  object Stream {
    val BaseEntities = 500
    val Exponent = 2.0
    val MaxCount = 150
    val Batches = 4
    val NewEntities = 10
    val Variants = 15
    // batches 1 and 3 compact the state, batches 2 and 4 do not
    val CompactEvery = 2
  }

  /** The north rule's pairwise F1 floor. */
  val F1Floor = 0.99

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    if (kv.contains("leg")) Leg.run(kv("threads").toInt, work)
    else {
      val t0 = System.nanoTime()
      val spark = Session.create(kv("threads").toInt, work)
      val sessionS = (System.nanoTime() - t0) / 1e9
      try new Run(spark, kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
        kv("trace") == "1", work, Paths.get(kv("result")), sessionS).execute()
      finally spark.stop()
    }
  }
}

object Session {
  def create(threads: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Main.Parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Er.register(s)
    s
  }
}

object Util {
  def clock: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally st.close()
  }

  /** Drop every cached table and persisted RDD except `keep`. */
  def release(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Peak resident set of this JVM in MB (VmHWM), or the peak heap use
    * where /proc is not available.
    */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    val hwm =
      if (Files.exists(status))
        Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
          .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      else None
    hwm.getOrElse(java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Host kernel probe: SimKernels pairs/s over one shared name array,
    * each thread scanning a sliding pair window (Bench's probe shape).
    */
  lazy val probeNames: Array[org.apache.spark.unsafe.types.UTF8String] = {
    val rng = new scala.util.Random(42)
    Array.fill(20000)(org.apache.spark.unsafe.types.UTF8String.fromString(
      (0 until 68).map(_ => rng.alphanumeric.take(6).mkString.toLowerCase).mkString(" ")))
  }

  def probeRate(threads: Int, millis: Long): Double = {
    import java.util.concurrent.atomic.AtomicLong
    val stop = new AtomicLong(0)
    val ops = new AtomicLong(0)
    val names = probeNames
    val n = names.length
    val ts = (0 until threads).map { tid =>
      new Thread(() => {
        val rng = new scala.util.Random(1000 + tid)
        var i = rng.nextInt(n)
        var local = 0L
        var sink = 0.0
        while (stop.get() == 0) {
          i = (i + 1) % n
          val a = names(i)
          val b = names((i + 1 + rng.nextInt(50)) % n)
          sink += graft.sim.SimKernels.levSim(a, b)
          sink += graft.sim.SimKernels.jaroWinkler(a, b)
          sink += graft.sim.SimKernels.tokenJaccard(a, b)
          local += 1
        }
        ops.addAndGet(local)
        if (sink == Double.MinValue) println("")
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); Thread.sleep(millis); stop.set(1)
    ts.foreach(_.join())
    ops.get().toDouble / ((System.nanoTime() - t0) / 1e9)
  }
}

/** One scaling leg in its own JVM: the batch pipeline of
  * resolve_skewed_ckpt (ResolvePipeline.run with the workload's block
  * caps, no checkpoint) on the input the traced run left in `work`, at
  * `threads` threads and the same partitioning, after a warm-up run on
  * the small input the traced run wrote to `warm-in`. Prints
  * `LEG <seconds>`.
  */
object Leg {
  def run(threads: Int, work: Path): Unit = {
    val spark = Session.create(threads, work.resolve(s"leg-$threads"))
    try {
      val cfg = PipelineConfig(maxBlockSize = Main.Skewed.MaxBlockSize,
        saltedMaxBlockSize = Main.Skewed.SaltedMaxBlockSize,
        numShufflePartitions = Some(Main.Parts))
      def job(input: String): Double = {
        val docs = spark.read.parquet(work.resolve(input).toString)
          .select("doc_id", "spans").localCheckpoint(true)
        val t0 = Util.clock
        val r = ResolvePipeline.run(spark, docs, cfg)
        r.pairScores.count()
        r.assignments.count()
        Util.secs(t0)
      }
      job("warm-in")
      Util.release(spark)
      System.gc()
      println(s"LEG ${job("input")}")
    } finally spark.stop()
  }
}
