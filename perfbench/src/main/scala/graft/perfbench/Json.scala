package graft.perfbench

/** JSON for the run's raw record and trace lines, through the Jackson
  * (with its Scala module) that ships with Spark. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
