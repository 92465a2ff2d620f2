package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the run's records (Jackson, as bundled with Spark): numbers are
  * written without the default locale, so a comma-decimal locale cannot
  * corrupt the output. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)
}
