package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. Every value is a function of (seed, row index,
  * column) built from Spark SQL expressions, so the same seed gives the
  * same table whatever the partitioning.
  */
object Inputs {

  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  private val Y2000Ms = 946684800000L
  private val DecadeMs = 10L * 365 * 86400000L

  private def h(seed: Long, field: Int): Column = xxhash64(lit(seed), col("id"), lit(field))
  private def pick(x: Column, m: Long): Column = pmod(x, lit(m))
  private def hex16(x: Column): Column = lpad(lower(hex(x)), 16, "0")

  /** Split key of row `id` of `n`: two key slots per row, one left empty at
    * random, plus one purged key range of `n / 2` keys (a quarter of the
    * key span) that starts at a seeded row. With four or more equal-width
    * split ranges, the ranges the purge misses hold 1.25x the mean row
    * count, whatever the seed.
    */
  private def splitKey(seed: Long, n: Long): Column = {
    val purgeAt = 1 + java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"purge$seed"), n - 1)
    col("id") * 2 + 1 + h(seed, 0).bitwiseAND(1L) + when(col("id") >= purgeAt, n / 2).otherwise(0L)
  }

  /** `n` rows shaped like the reference's e2e `demo_table` (`e2e/ddl.sql`)
    * in `parts` partitions of consecutive row indices. The typed arrays are
    * left out when `withArrays` is false (Derby has no arrays).
    */
  def demoTable(spark: SparkSession, seed: Long, n: Long, parts: Int, withArrays: Boolean): DataFrame = {
    val uuidHex = concat(hex16(h(seed, 8)), hex16(h(seed, 9)))
    val decimal = DecimalType(10, 2)
    val numerics = array(lit(null).cast(decimal) +: Seq("1.99", "5.99", "99.99", "155.98")
      .map(v => lit(new java.math.BigDecimal(v)).cast(decimal)): _*)
    val scalars = Seq(
      splitKey(seed, n).as("row_number"),
      (h(seed, 1).bitwiseAND(1L) === 1L).as("bool_field"),
      concat(hex16(h(seed, 2)), hex16(h(seed, 3))).as("hexid1"),
      timestamp_millis(pick(h(seed, 4), DecadeMs) + Y2000Ms).as("timestamp1"),
      timestamp_millis(pick(h(seed, 5), DecadeMs) + Y2000Ms).as("timestamp2"),
      (pick(h(seed, 6), 10) + 1).cast(IntegerType).as("tag_field_id"),
      lit("const").as("flag1"),
      lit("const").as("flag2"),
      concat((0 until 12).map(i => lit(Alnum).substr(pick(h(seed, 10 + i), Alnum.length) + 1, lit(1))): _*)
        .as("random_str2"),
      element_at(numerics, (pick(h(seed, 7), 5) + 1).cast(IntegerType)).as("numeric_field"),
      concat_ws("-", Seq((1, 8), (9, 4), (13, 4), (17, 4), (21, 12)).map { case (p, l) =>
        uuidHex.substr(p, l) }: _*).as("uuid1"),
      lit(Array[Byte](0)).as("bytes_field"))
    val arrays = Seq(
      typedLit(Seq("rock", "scissors", "paper")).as("arr1"),
      typedLit(Seq(5, 7, 11)).as("arr2"),
      typedLit(Seq(4294967296L, 2L, 1L)).as("arr3"),
      typedLit(Seq("varchar-1", "varchar-2")).as("arr5"),
      typedLit(Seq("123e4567-e89b-12d3-a456-426655440000", "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")).as("arr6"))
    spark.range(0L, n, 1L, parts).select(scalars ++ (if (withArrays) arrays else Nil): _*)
  }

  /** Writes the table as `parts` parquet files under `dir`. */
  def writeParquet(spark: SparkSession, seed: Long, n: Long, parts: Int, dir: String): Unit =
    demoTable(spark, seed, n, parts, withArrays = true).write.mode("overwrite").parquet(dir)

  val DerbyTable = "demo_table"
  val DerbySplitColumn = "row_num"

  def derbyUrl(seed: Long): String = s"jdbc:derby:memory:bench$seed"

  /** Loads the array-free table into an in-memory Derby database, with a
    * primary key on the split column, through one batched writer. Derby
    * reserves ROW_NUMBER, so the split column is named [[DerbySplitColumn]]
    * there.
    */
  def loadDerby(spark: SparkSession, seed: Long, n: Long, parts: Int, props: java.util.Properties): Unit = {
    val c = java.sql.DriverManager.getConnection(derbyUrl(seed) + ";create=true", props)
    try {
      c.createStatement().execute(
        s"""CREATE TABLE $DerbyTable ($DerbySplitColumn BIGINT NOT NULL PRIMARY KEY, bool_field BOOLEAN,
           |hexid1 VARCHAR(32), timestamp1 TIMESTAMP, timestamp2 TIMESTAMP, tag_field_id INTEGER,
           |flag1 VARCHAR(8), flag2 VARCHAR(8), random_str2 VARCHAR(12), numeric_field DECIMAL(10,2),
           |uuid1 VARCHAR(36), bytes_field VARCHAR(16) FOR BIT DATA)""".stripMargin)
      c.setAutoCommit(false)
      val ps = c.prepareStatement(s"INSERT INTO $DerbyTable VALUES (?,?,?,?,?,?,?,?,?,?,?,?)")
      var k = 0
      demoTable(spark, seed, n, parts, withArrays = false).toLocalIterator().forEachRemaining { r =>
        (0 until r.length).foreach(i => ps.setObject(i + 1, r.get(i)))
        ps.addBatch()
        k += 1
        if (k % 10000 == 0) { ps.executeBatch(); c.commit() }
      }
      ps.executeBatch()
      c.commit()
    } finally c.close()
  }

  def dropDerby(seed: Long): Unit =
    try java.sql.DriverManager.getConnection(derbyUrl(seed) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception

  /** Order-independent checksum of a frame: row count and the exact sum of
    * a 64-bit hash of every row.
    */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The generated table mapped through the export's documented
    * conversions (timestamp → epoch millis, decimal → string), i.e. what
    * reading the Avro output back must give.
    */
  def asExported(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case TimestampType => unix_millis(col(f.name)).as(f.name)
        case _: DecimalType => col(f.name).cast(StringType).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  /** Copies each fixture table of `src` into `dst` as `parts` part files
    * whose rows are shuffled by the seed. The tables' contents are
    * unchanged, so query results must not depend on the seed.
    */
  def relayFixture(spark: SparkSession, src: String, dst: String, seed: Long, parts: Int): Unit =
    new java.io.File(src).listFiles().map(_.getName).filter(_.endsWith(".parquet")).foreach { t =>
      spark.read.parquet(s"$src/$t")
        .withColumn("__k", xxhash64(lit(seed), monotonically_increasing_id()))
        .repartition(parts, col("__k"))
        .sortWithinPartitions("__k")
        .drop("__k")
        .write.mode("overwrite").parquet(s"$dst/$t")
    }
}
