package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The result file: insertion-ordered objects written with Spark's Jackson. */
object Json {
  class Obj extends scala.collection.mutable.LinkedHashMap[String, Any]

  object Obj {
    def apply(kv: (String, Any)*): Obj = { val o = new Obj; o ++= kv; o }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any, path: String): Unit = mapper.writeValue(new java.io.File(path), v)
}
