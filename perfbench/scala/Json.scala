package perfbench

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JSON for the run record and the trace, through json4s. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  /** Maps, sequences, options and case classes as JSON; NaN becomes null. */
  def write(v: AnyRef): String = Serialization.write(v)

  def parseLongMap(json: String): Map[String, Long] = Serialization.read[Map[String, Long]](json)
}
