package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON through json4s (on Spark's classpath): results are built with
  * `org.json4s.JsonDSL` and written compact; inputs are read as `JValue`s. */
object Json {
  def write(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  def read(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  implicit class Fields(val v: JValue) extends AnyVal {
    def str(k: String): String = (v \ k) match { case JString(s) => s; case x => x.toString }
    def int(k: String): Int = num(k).toInt
    def long(k: String): Long = num(k).toLong
    def num(k: String): Double = (v \ k) match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case x => throw new IllegalArgumentException(s"field $k is not a number: $x")
    }
    def has(k: String): Boolean = (v \ k) != JNothing && (v \ k) != JNull
    def arr(k: String): List[JValue] = (v \ k) match {
      case JArray(xs) => xs
      case x => throw new IllegalArgumentException(s"field $k is not an array: $x")
    }
    def strs(k: String): Seq[String] = arr(k).map { case JString(s) => s; case x => x.toString }
    def longs(k: String): Seq[Long] = arr(k).map {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case x => throw new IllegalArgumentException(s"not an integer: $x")
    }
    def doubles(k: String): Seq[Double] = arr(k).map {
      case JInt(i) => i.toDouble
      case JDouble(d) => d
      case JLong(l) => l.toDouble
      case JDecimal(d) => d.toDouble
      case x => throw new IllegalArgumentException(s"not a number: $x")
    }
  }
}
