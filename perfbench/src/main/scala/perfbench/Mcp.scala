package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The MCP `query` tool as a client sees it: a JSON-RPC request line in,
  * the tool's text result (one JSON object per row) out. */
object Mcp {
  def request(id: Int, sql: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "jsonrpc" -> JString("2.0"), "id" -> JInt(id), "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString("query"),
        "arguments" -> JObject("sql" -> JString(sql))))))

  /** The result text of a reply; throws on an error reply. */
  def text(reply: Option[String]): String = {
    val r = JsonMethods.parse(reply.getOrElse(throw new AssertionError("no MCP reply")))
    Stats.expect((r \ "error") == JNothing && (r \ "result" \ "isError") == JNothing,
      s"MCP error reply: ${reply.get.take(300)}")
    (r \ "result" \ "content")(0) \ "text" match {
      case JString(t) => t
      case other => throw new AssertionError(s"MCP reply without text: $other")
    }
  }
}
