package graft.confdump

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** Writes the session's `spark.conf.getAll`, sorted, to `$GRAFT_CONF_DUMP`
  * after every finished query, so the file holds the conf as the last
  * query of a run saw it, plus the effective value of the two keys
  * that `GraftSession.local` no longer sets. Registered with
  * `-Dspark.sql.queryExecutionListeners=graft.confdump.ConfDump`; see
  * `confdump.sh`. */
class ConfDump extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    dump(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    dump(qe)
  private def dump(qe: QueryExecution): Unit = {
    val conf = qe.sparkSession.conf
    // getAll lists only keys set explicitly; these two are also read back
    // as the effective value, default included
    val effective = effectiveKeys.map(k => s"effective $k=${conf.get(k)}")
    Files.writeString(Paths.get(sys.env("GRAFT_CONF_DUMP")),
      (conf.getAll.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++ effective)
        .mkString("", "\n", "\n"))
  }
  private val effectiveKeys =
    Seq("spark.sql.adaptive.enabled", "spark.sql.legacy.parquet.nanosAsLong")
}
