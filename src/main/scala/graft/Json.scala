package graft

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DecimalNode, NullNode, ObjectNode}

/** The mains' JSON artifacts (`BENCH_DETAIL.json`, the bench contract
  * line, `oracle_sql.json`) go through one Jackson mapper, so every string
  * is escaped by the library — quotes, backslashes and all control
  * characters — and a stray character in a query name, a stream-metrics
  * line or an environment value cannot make the file unparseable.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  /** `v` at 3 decimals, rounded HALF_UP like `%.3f` (so `1.5` writes as
    * `1.500`); `null` for a non-finite value, which JSON cannot carry. */
  def num3(v: Double): JsonNode =
    if (v.isNaN || v.isInfinite) NullNode.instance
    else new DecimalNode(java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP))

  def nums3(vs: Seq[Double]): ArrayNode = {
    val a = mapper.createArrayNode(); vs.foreach(v => a.add(num3(v))); a
  }

  def text(s: String): JsonNode = mapper.getNodeFactory.textNode(s)

  def num(v: Long): JsonNode = mapper.getNodeFactory.numberNode(v)

  def nums(vs: Seq[Long]): ArrayNode = {
    val a = mapper.createArrayNode(); vs.foreach(v => a.add(v)); a
  }

  def strings(vs: Seq[String]): ArrayNode = {
    val a = mapper.createArrayNode(); vs.foreach(a.add); a
  }

  /** One object with a field per `(key, value)`, in the given order. */
  def fields(kvs: Seq[(String, JsonNode)]): ObjectNode = {
    val o = mapper.createObjectNode(); kvs.foreach { case (k, v) => o.set[JsonNode](k, v) }; o
  }

  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}
