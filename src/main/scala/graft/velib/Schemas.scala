package graft.velib

import org.apache.spark.sql.types._

/** Canonical schemas of the reference's data model (SURVEY.md §1).
  *
  * Raw status record: fields selected by the producer
  * (reference `src/assets/bronze.py:34`), types declared by the silver
  * streaming job (reference `src/assets/silver.py:17-25`).
  */
object Schemas {

  /** Bronze/raw station-status record as it travels over the wire. */
  val rawStatus: StructType = StructType(Seq(
    StructField("stationcode", StringType),
    StructField("name", StringType),
    StructField("numdocksavailable", IntegerType),
    StructField("numbikesavailable", IntegerType),
    StructField("mechanical", IntegerType),
    StructField("ebike", IntegerType),
    StructField("duedate", StringType) // ISO-8601; parsed with to_timestamp
  ))
}

/** Typed row model used at the ingestion/parse boundary. */
case class VelibStatus(
    stationcode: String,
    name: String,
    numdocksavailable: Integer,
    numbikesavailable: Integer,
    mechanical: Integer,
    ebike: Integer,
    duedate: String)
