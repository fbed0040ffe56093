package graftbench

import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(Paths.get(path))
    try {
      val buf = new Array[Byte](1 << 16)
      var k = in.read(buf)
      while (k > 0) { md.update(buf, 0, k); k = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** A fixed amount of CPU and memory work on every core that touches
  * neither Spark nor the engine: each thread sorts copies of the same
  * seeded random array. Its wall time shows how fast the machine ran at
  * the moment it was taken (a diagnostic; no metric is scaled by it). */
object Calibration {
  private val data = {
    val r = new scala.util.Random(7)
    Array.fill(1 << 19)(r.nextLong())
  }

  def seconds(): Double = {
    val threads = (1 to Runtime.getRuntime.availableProcessors).map { _ =>
      new Thread(() => for (_ <- 1 to 4) java.util.Arrays.sort(data.clone()))
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Just enough JSON output for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
