package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** JSON output through Jackson: Scala maps, sequences and options become
  * JSON objects, arrays and null; non-finite numbers become null. */
object Json {
  private val mapper = new ObjectMapper()

  def write(value: Any): String = mapper.writeValueAsString(java(value))

  private def java(v: Any): AnyRef = v match {
    case None => null
    case Some(x) => java(x)
    case d: Double if d.isNaN || d.isInfinite => null
    case m: collection.Map[_, _] =>
      m.iterator.map { case (k, x) => k.toString -> java(x) }.to(collection.mutable.LinkedHashMap).asJava
    case xs: Iterable[_] => xs.map(java).toSeq.asJava
    case xs: Array[_] => xs.toSeq.map(java).asJava
    case x => x.asInstanceOf[AnyRef]
  }
}
