package perfbench

/** Writes `SparkEntry.oracleSql` (query name -> DuckDB SQL) as one JSON
  * object to the path given, for the batch output checks. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val m = new java.util.TreeMap[String, String]()
    graft.SparkEntry.oracleSql.foreach { case (k, v) => m.put(k, v) }
    Json.mapper.writeValue(new java.io.File(args(0)), m)
  }
}
