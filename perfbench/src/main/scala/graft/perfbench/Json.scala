package graft.perfbench

import org.json4s._

/** The benchmark's own JSON files, through json4s (which ships with
  * Spark): reading the input generator's record and the pinned entry
  * hashes, and writing the result record. */
object Json {

  final case class Obj(fields: Map[String, Any]) {
    def obj(k: String): Obj = fields(k).asInstanceOf[Obj]
    def num(k: String): Double = fields(k).asInstanceOf[Double]
    def long(k: String): Long = num(k).toLong
    def str(k: String): String = fields(k).asInstanceOf[String]
  }

  def parse(text: String): Obj = toScala(org.json4s.jackson.JsonMethods.parse(text)).asInstanceOf[Obj]

  def read(path: String): Obj =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  private def toScala(v: JValue): Any = v match {
    case JObject(fs) => Obj(fs.map { case (k, x) => k -> toScala(x) }.toMap)
    case JArray(xs) => xs.map(toScala)
    case JString(s) => s
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case _ => null
  }

  /** Maps, sequences, strings, numbers and booleans as JSON text. */
  def write(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)
}
