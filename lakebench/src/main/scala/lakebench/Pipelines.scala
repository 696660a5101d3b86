package lakebench

import graft.operators.Alerts.AlertConfig
import graft.operators.Detection.SimpleRule
import graft.operators.RangeJoin
import graft.sources.Framing
import graft.streaming.Ingest
import graft.transform.managed.{CloudTrail, VpcFlow}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two managed sources the benchmark ingests, their table schemas and
  * the detection rules over them. The rule set and alert config mirror
  * `gen.py`, whose planted matches are the expected rule output.
  */
object Pipelines {

  /** Landing objects are JSON lines `{"message": <raw line>}`. */
  val landingSchema: StructType = StructType(Seq(StructField("message", StringType)))

  val alertConfig: AlertConfig = AlertConfig(threshold = 3, windowSeconds = 1800)

  final case class Source(name: String, transform: DataFrame => DataFrame,
      rules: Seq[SimpleRule], matchId: Column) {
    /** The table schema: the managed mapping's output, with the custom
      * fields typed as the table declares them.
      */
    def target(spark: SparkSession): StructType = {
      val shaped = transform(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], landingSchema)).schema
      StructType(shaped.fields.map {
        case f if f.name == "bytes_in" => f.copy(dataType = LongType)
        case f => f
      })
    }
    def pipeline(spark: SparkSession, lake: String, side: String): Ingest.Pipeline =
      Ingest.Pipeline(transform, target(spark), lake, side)
  }

  /** CloudTrail: framing, the managed mapping, and one custom field —
    * `additionalEventData.bytesTransferredIn`, which the table types as a
    * long, so a non-numeric value is sidelined by schema resolution.
    */
  val cloudtrail: Source = Source("cloudtrail",
    df => CloudTrail(Framing.preTransformJsonParse(df)
      .withColumn("bytes_in",
        get_json_object(col("json"), "$.additionalEventData.bytesTransferredIn")))
      .drop("message"),
    Seq(
      SimpleRule("ct_root_console_login",
        col("event.action") === "ConsoleLogin" && col("user.name") === "root",
        dedupe = col("source.address"), threshold = 3, windowSeconds = 1800),
      SimpleRule("ct_access_key_created", col("event.action") === "CreateAccessKey",
        dedupe = col("user.name"), threshold = 3, windowSeconds = 1800)),
    xxhash64(col("event.id")))

  /** VPC flow: the managed mapping plus the numeric address keys hunters
    * probe and range-join on (top-level, so file statistics cover them).
    */
  val vpcflow: Source = Source("vpcflow",
    df => VpcFlow(df)
      .withColumn("src_ip_num", RangeJoin.ipv4ToLong(col("source.ip")))
      .withColumn("dst_ip_num", RangeJoin.ipv4ToLong(col("destination.ip"))),
    Seq(SimpleRule("vpc_ssh_reject",
      col("event.action") === "reject" && col("destination.port") === 22,
      dedupe = col("source.ip"), threshold = 3, windowSeconds = 1800)),
    xxhash64(col("event.original")))

  val sources: Seq[Source] = Seq(cloudtrail, vpcflow)
}
