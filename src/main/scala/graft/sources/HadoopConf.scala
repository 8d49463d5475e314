package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The one way executor code gets the session's Hadoop settings: a
  * broadcast of `sessionState.newHadoopConf()`. A bare `new
  * Configuration()` on an executor would drop the `file:` binding and the
  * s3a credentials and endpoints; a conf captured in each closure is
  * serialized into every task and deserialized by every task, where a
  * broadcast reaches each executor once. The settings are a snapshot:
  * later `spark.conf` changes are not seen by a broadcast already made.
  */
object HadoopConf {
  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
}
