package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The mains' one JSON writer (Bench's contract line and sidecar,
  * Verify's oracle and status files): Jackson does the escaping and the
  * number formatting, so no caller hand-rolls either. Scala maps become
  * objects and sequences arrays; pass a `ListMap` to fix key order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
