package org.apache.spark.perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Reads and writes the benchmark's JSON files with the Jackson that
  * ships with Spark. Objects are ordered maps, so fields keep their order.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
