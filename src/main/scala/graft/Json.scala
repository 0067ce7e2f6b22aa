package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the mains' output: Scala maps, sequences and
  * options serialize directly (`None` as `null`), and every string is
  * escaped by the serializer, never by hand.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** A finite number, or `None` (JSON `null`): NaN and infinities are not
    * legal JSON and would make a reader reject the whole line.
    */
  def num(d: Double): Option[Double] = Some(d).filterNot(x => x.isNaN || x.isInfinite)
}
