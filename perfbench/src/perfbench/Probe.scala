package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process-level probes shared by every harness main: CPU, GC, heap
  * after a full collection, time since the JVM started, and the one
  * result line each main prints for `run.py` to parse.
  */
object Probe {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = osBean.getProcessCpuTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** CPU milliseconds of this JVM's JIT compiler threads so far, read
    * from /proc (utime + stime at 100 ticks/s). The JVM runs with a fixed
    * set of compiler threads, so none exits and takes its time along.
    */
  def jitCpuMillis(): Double = {
    var ticks = 0L
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
      try {
        if (new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("comm"))).contains("CompilerThre")) {
          val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          ticks += f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => () } // the thread is gone
    }
    ticks * 10.0
  }

  /** Seconds since the JVM was created: the `setup_s` clock. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after full collections, in MB. It is collected again,
    * 200 ms apart, while it still falls by 1% (at most 5 times), so that
    * what Spark's ContextCleaner lets go after a collection goes too.
    */
  def retainedHeapMb(): Double = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (last, cur, n) = (Long.MaxValue, used(), 1)
    while (cur < last * 0.99 && n < 5) { Thread.sleep(200); last = cur; cur = used(); n += 1 }
    cur / 1048576.0
  }

  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** Print the result object as one `PERFBENCH {...}` line. */
  def emit(fields: Iterable[(String, Any)]): Unit = {
    println("PERFBENCH " + mapper.writeValueAsString(toJava(fields.toMap)))
    System.out.flush()
  }

  def writeJson(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), mapper.writeValueAsString(toJava(v)))

  /** Scala collections as Java ones for Jackson, map keys sorted; NaN and
    * infinities as null. */
  private def toJava(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: collection.Map[_, _] =>
      new java.util.TreeMap[String, Any](m.map { case (k, x) => k.toString -> toJava(x) }.asJava)
    case xs: Iterable[_] => xs.map(toJava).asJava
    case xs: Array[_] => xs.toSeq.map(toJava).asJava
    case x => x
  }
}

/** `key=value` command-line arguments. */
final case class Args(args: Array[String]) {
  private val m = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k="))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
}
