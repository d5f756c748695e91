package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

object Util {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload runs on: `local[nproc]`, configured as the
    * repository's catalog bench configures its sessions.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with SQL settings that make every stage one task, so a job
    * runs on one core: the single-threaded baseline arm.
    */
  def oneTask[A](spark: SparkSession)(body: => A): A = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.shuffle.partitions")
    val old = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.files.maxPartitionBytes", Long.MaxValue / 4)
    spark.conf.set("spark.sql.shuffle.partitions", 1L)
    try body finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit = {
    require(p.getNameCount > 1, s"refusing to delete $p")
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally all.close()
    }
  }

  /** Bytes allocated by all threads of the JVM so far. */
  def allocatedBytes(): Double = java.lang.management.ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes.toDouble
    case _ => 0.0
  }

  /** Collection time of all garbage collectors so far, seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status", "UTF-8")
    try line.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally line.close()
  }

  /** Minimal JSON rendering for the result files. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
