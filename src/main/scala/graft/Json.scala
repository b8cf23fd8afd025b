package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DecimalNode, JsonNodeFactory, ObjectNode}

/** The JSON writer of the mains ([[Bench]], [[Verify]]): Jackson
  * trees, so every key and value is escaped by the library. */
private[graft] object Json {
  val mapper = new ObjectMapper()

  /** An object with `fields` in order. Values are JSON nodes, strings,
    * booleans, ints, longs or doubles. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val n = JsonNodeFactory.instance.objectNode()
    fields.foreach {
      case (k, v: JsonNode) => n.set[JsonNode](k, v)
      case (k, v: String) => n.put(k, v)
      case (k, v: Boolean) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v: Double) => n.put(k, v)
    }
    n
  }

  /** `v` rounded half-up to 3 decimals and written with all three
    * (`0.120`, not `0.12`). */
  def dec3(v: Double): JsonNode = DecimalNode.valueOf(
    java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP))

  def render(n: JsonNode): String = mapper.writeValueAsString(n)
}
