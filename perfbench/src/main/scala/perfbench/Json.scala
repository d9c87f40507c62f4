package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON writing for the result and trace files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)
}
