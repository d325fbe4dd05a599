package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded sf0.1 tables with the schemas and value domains the gate
  * queries read: region, nation, customer, supplier, part, orders,
  * lineitem, events, documents and embeddings. Every value is a pure
  * function of (seed, table, row id), so a seed always yields the same
  * files whatever the partitioning. */
object DataGen {
  val Rows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  val Words: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")

  def writeAll(spark: SparkSession, seed: Long, dir: String): Unit =
    Rows.keys.toSeq.sorted.foreach { t =>
      table(spark, seed, t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  /** Uniform draw in [0, n) for column salt `salt` of row `id`. */
  private def pick(seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(n))
  private def unit(seed: Long, salt: Int): Column = pick(seed, salt, 1000000L) / 1e6
  private def oneOf(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, salt, xs.size.toLong) + 1).cast("int"))
  private def day(seed: Long, salt: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), pick(seed, salt, days.toLong).cast("int"))
      .cast("timestamp").cast("timestamp_ntz")
  private def money(c: Column): Column = round(c, 2)

  def table(spark: SparkSession, seed: Long, name: String): DataFrame = {
    val s = seed * 31 + name.hashCode
    val ids = spark.range(0, Rows(name), 1, 4)
    name match {
      case "region" => ids.select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name"))
      case "nation" => ids.select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" => ids.select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick(s, 1, 25).cast("int").as("c_nationkey"),
        money(unit(s, 2) * 10998.99 - 999.99).as("c_acctbal"),
        oneOf(s, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" => ids.select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(s, 1, 25).cast("int").as("s_nationkey"),
        money(unit(s, 2) * 10998.99 - 999.99).as("s_acctbal"))
      case "part" => ids.select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(s, 1, Seq("large", "hot", "small", "cold", "bright", "dark")),
          oneOf(s, 2, Seq("ring", "bolt", "gear", "nut", "pipe", "valve"))).as("p_name"),
        concat(lit("Brand#"), pick(s, 3, 25) + 1).as("p_brand"),
        oneOf(s, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (pick(s, 5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 2000) / 10.0).as("p_retailprice"))
      case "orders" => ids.select(col("id").as("o_orderkey"),
        pick(s, 1, Rows("customer")).as("o_custkey"),
        oneOf(s, 2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(unit(s, 3) * 499000 + 1000).as("o_totalprice"),
        day(s, 4, "1995-01-01", 2404).as("o_orderdate"),
        oneOf(s, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" => ids.select(pick(s, 1, Rows("orders")).as("l_orderkey"),
        pick(s, 2, Rows("part")).as("l_partkey"), pick(s, 3, Rows("supplier")).as("l_suppkey"),
        (pick(s, 4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(s, 5, 50) + 1).cast("double").as("l_quantity"),
        money(unit(s, 6) * 104099 + 900).as("l_extendedprice"),
        (pick(s, 7, 11) / 100.0).as("l_discount"), (pick(s, 8, 9) / 100.0).as("l_tax"),
        oneOf(s, 9, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(s, 10, Seq("F", "O")).as("l_linestatus"),
        day(s, 11, "1995-01-02", 2498).as("l_shipdate"))
      case "events" => ids.select(col("id").as("event_id"),
        (lit(1704067200000000L) + pick(s, 1, 30L * 86400L * 1000000L)).cast("long")
          .as("us"),
        pick(s, 2, 1500).as("user_id"),
        oneOf(s, 3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        money(unit(s, 4) * 560).as("value"),
        format_string("{\"k\": %d}", pick(s, 5, 100)).as("props"))
        .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      case "documents" => documents(spark, s)
      case "embeddings" => embeddings(spark, s)
    }
  }

  /** Word-salad documents over a 30-word vocabulary, with a few exact
    * duplicates and near duplicates (one extra token) for the dedup gates. */
  private def documents(spark: SparkSession, s: Long): DataFrame = {
    import spark.implicits._
    val n = Rows("documents").toInt
    def text(i: Int): String = {
      val len = 7 + Keys.uniform(s, i * 7L, 90).toInt
      (0 until len).map(j => Words(Keys.uniform(s, i * 1000L + j, Words.length).toInt)).mkString(" ")
    }
    val rows = (0 until n).map { i =>
      val r = Keys.uniform(s + 1, i, 1000)
      val t = if (i > 0 && r < 2) text(i - 1)
        else if (i > 0 && r < 50) text(i - 1) + " dup"
        else text(i)
      val lang = Seq("en", "en", "en", "de", "es", "fr", "zh")(Keys.uniform(s + 2, i, 7).toInt)
      (i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Unit-norm 64-d Gaussian vectors with labels 0..9. */
  private def embeddings(spark: SparkSession, s: Long): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(s)
    val rows = (0 until Rows("embeddings").toInt).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    rows.toDF("vec_id", "embedding", "label")
  }
}
