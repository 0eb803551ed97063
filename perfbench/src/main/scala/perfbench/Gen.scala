package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed always gives the same inputs;
  * the engine only ever sees what these produce. */
object Gen {
  // ------------------------------------------------------------ gateway

  final case class Rec(partition: Int, payload: String, key: String)

  /** One POST. `resendOf >= 0` re-sends request `resendOf` unchanged (same
    * idempotency keys), as a client retry would. */
  final case class Req(id: Int, dueMs: Double, records: Vector[Rec], single: Boolean, resendOf: Int) {
    def events: Int = records.size
  }

  val Partitions   = 8
  val BulkSize     = 100
  val SingleShare  = 0.10
  val ResendShare  = 0.05
  val HotShare     = 0.30 // share of events routed to partition 0

  private val alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** Payload sizes: mostly ~100 B, with a 64 B – 1 KB tail. */
  def payloadSize(r: SplittableRandom): Int =
    if (r.nextDouble() < 0.9) 90 + r.nextInt(21)
    else math.exp(math.log(64) + r.nextDouble() * (math.log(1024) - math.log(64))).toInt

  def payload(r: SplittableRandom): String = {
    val n = payloadSize(r)
    val b = new StringBuilder(n)
    var i = 0
    while (i < n) { b += alnum.charAt(r.nextInt(alnum.length)); i += 1 }
    b.result()
  }

  def partition(r: SplittableRandom): Int =
    if (r.nextDouble() < HotShare) 0 else 1 + r.nextInt(Partitions - 1)

  /** Open-loop traffic: `n` requests due every 1000/rate ms. About 10%
    * are single-event posts and the rest bulk posts of 100 events; about
    * 5% re-send a request that was due 100–1000 ms earlier. */
  def traffic(seed: Long, ratePerS: Double, n: Int): Vector[Req] = {
    val r       = new SplittableRandom(seed)
    val everyMs = 1000.0 / ratePerS
    val out     = Vector.newBuilder[Req]
    val made    = scala.collection.mutable.ArrayBuffer.empty[Req]
    (0 until n).foreach { i =>
      val due  = i * everyMs
      val back = math.max(1, (100 + r.nextInt(901)) / everyMs).toInt
      val req =
        if (r.nextDouble() < ResendShare && i - back >= 0 && made(i - back).resendOf < 0) {
          val o = made(i - back)
          Req(i, due, o.records, o.single, o.id)
        } else {
          val single = r.nextDouble() < SingleShare
          val k      = if (single) 1 else BulkSize
          Req(i, due, Vector.tabulate(k)(j => Rec(partition(r), payload(r), s"s$seed-r$i-$j")), single, -1)
        }
      made += req
      out += req
    }
    out.result()
  }

  def body(q: Req): String =
    if (q.single) {
      val e = q.records.head
      s"""{"payload":"${e.payload}","partition":${e.partition},"idempotency_key":"${e.key}"}"""
    } else
      q.records.map(e => s"""{"payload":"${e.payload}","partition":${e.partition},"idempotency_key":"${e.key}"}""")
        .mkString("""{"records":[""", ",", "]}")

  // ------------------------------------------------------------- tables

  /** Uniform [0, 1) derived from (seed, salt, key columns). */
  private def u(seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 30)).cast("double") / lit((1L << 30).toDouble)

  private def pick(seed: Long, salt: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (floor(u(seed, salt, keys: _*) * values.size) + 1).cast("int"))

  private val t2024 = 1704067200000000L // 2024-01-01 in µs
  private val t1995 = 788918400000000L  // 1995-01-01 in µs
  private val dayUs = 86400000000L

  private def ntz(us: Column): Column = timestamp_micros(us.cast("long")).cast("timestamp_ntz")

  /** Raw write-stream events in the shape of the engine's `events.parquet`:
    * 30 days of event time, 1 500 users, five event types. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id   = col("id")
    val span = 30L * dayUs
    spark.range(n).select(
      id.as("event_id"),
      ntz(lit(t2024) + floor((id.cast("double") + u(seed, "tj", id)) * lit(span.toDouble / n))).as("ts"),
      floor(u(seed, "user", id) * 1500).cast("long").as("user_id"),
      pick(seed, "type", Seq("view", "click", "purchase", "signup", "error"), id).as("event_type"),
      (floor(u(seed, "val", id) * u(seed, "val2", id) * 56021) / 100).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, "k", id) * 100).cast("long").cast("string"), lit("}")).as("props"))
  }

  private val vocab = Seq("a", "the", "data", "spark", "stream", "batch", "table", "query", "scan", "join",
    "agg", "sort", "hash", "key", "value", "row", "column", "window", "group", "filter", "order", "line",
    "part", "customer", "merge", "vector", "fast", "slow", "big", "small")

  /** A TPC-H-like star schema plus events, documents and embeddings, in
    * the layout the engine's queries read (`<dir>/<table>.parquet`). */
  def tables(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    def n(base: Long) = math.max(1L, (base * sf).toLong)
    val id = col("id")
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      floor(u(seed, "cn", id) * 25).cast("int").as("c_nationkey"),
      (floor(u(seed, "cb", id) * 1099999) / 100 - 999.99).as("c_acctbal"),
      pick(seed, "seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      floor(u(seed, "sn", id) * 25).cast("int").as("s_nationkey"),
      (floor(u(seed, "sb", id) * 1099999) / 100 - 999.99).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, "pa", Seq("large", "hot", "blue", "red", "small", "green"), id),
        pick(seed, "pb", Seq("ring", "bolt", "nut", "screw", "gear"), id)).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, "br", id) * 25) + 1).cast("long").cast("string")).as("p_brand"),
      pick(seed, "pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id).as("p_type"),
      (floor(u(seed, "ps", id) * 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10).as("p_retailprice"))
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      floor(u(seed, "oc", id) * nCust).cast("long").as("o_custkey"),
      pick(seed, "os", Seq("O", "F", "P"), id).as("o_orderstatus"),
      (floor(u(seed, "op", id) * 49899127) / 100 + 1001.91).as("o_totalprice"),
      ntz(lit(t1995) + floor(u(seed, "od", id) * 2404) * dayUs).as("o_orderdate"),
      pick(seed, "opr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))
    // 1 to 7 lines per order, as in TPC-H. TPC-H's quantities (1 to 50 a
    // line) put about one order in 25 000 above Q18's 300-unit gate, none at
    // this scale; a 0.2% share of bulk orders (7 lines of 41 to 50) puts a
    // few dozen past it, so Q18's joins see input.
    val bulk = u(seed, "bulk", id) < 0.002
    val (o, ln, b) = (col("o"), col("ln"), col("bulk"))
    val lineitem = spark.range(nOrd).select(id.as("o"), bulk.as("bulk"),
      explode(sequence(lit(1), when(bulk, lit(7)).otherwise((floor(u(seed, "nl", id) * 7) + 1).cast("int")))).as("ln"))
      .select(
        o.as("l_orderkey"),
        floor(u(seed, "lp", o, ln) * nPart).cast("long").as("l_partkey"),
        floor(u(seed, "ls", o, ln) * nSupp).cast("long").as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        when(b, floor(u(seed, "lq", o, ln) * 10) + 41).otherwise(floor(u(seed, "lq", o, ln) * 50) + 1)
          .cast("double").as("l_quantity"),
        (floor(u(seed, "le", o, ln) * 9000000) / 100 + 900).as("l_extendedprice"),
        (floor(u(seed, "ld", o, ln) * 11) / 100).as("l_discount"),
        (floor(u(seed, "lt", o, ln) * 9) / 100).as("l_tax"),
        pick(seed, "rf", Seq("A", "N", "R"), o, ln).as("l_returnflag"),
        pick(seed, "lst", Seq("O", "F"), o, ln).as("l_linestatus"),
        ntz(lit(t1995) + floor(u(seed, "lsd", o, ln) * 2499 + 1) * dayUs).as("l_shipdate"))
    val nDocs = math.max(50L, n(50000))
    // near-duplicates: 5% of documents reuse another document's words with
    // one word in ten redrawn; 0.2% are exact copies
    val src = when(u(seed, "dup", id) < 0.002, floor(u(seed, "dsrc", id) * nDocs))
      .when(u(seed, "dup", id) < 0.052, floor(u(seed, "dsrc", id) * nDocs)).otherwise(id).cast("long")
    val exact = u(seed, "dup", id) < 0.002
    val nWords = (floor(u(seed, "nw", col("src")) * 100) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(array(vocab.map(lit): _*), (floor(
        when(!exact && u(seed, "nd", id, i) < 0.1, u(seed, "wd", id, i)).otherwise(u(seed, "w", col("src"), i)) *
          vocab.size) + 1).cast("int")))
    val documents = spark.range(nDocs).withColumn("src", src).select(id.as("doc_id"),
      array_join(words, " ").as("text"),
      when(u(seed, "lang", id) < 0.41, lit("en")).otherwise(pick(seed, "lang2", Seq("de", "es", "fr", "zh"), id)).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val nEmb = math.max(100L, n(20000))
    val label = floor(u(seed, "lab", id) * 10).cast("int")
    val raw = transform(sequence(lit(1), lit(64)), i =>
      (u(seed, "c", label, i) - 0.5) + (u(seed, "e", id, i) - 0.5) * 0.6)
    val embeddings = spark.range(nEmb).select(id.as("vec_id"), raw.as("v"), label.as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events(spark, seed, math.max(1000L, n(1000000))), "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write each frame as one parquet file `<dir>/<name>.parquet`. */
  def writeTables(frames: Map[String, DataFrame], dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    frames.foreach { case (name, df) =>
      val tmp = dir.resolve(s"_$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).head
      java.nio.file.Files.move(part, dir.resolve(s"$name.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteTree(tmp)
    }
  }

  /** A seeded permutation. */
  def shuffled[T](seed: Long, xs: Seq[T]): Seq[T] = {
    val r = new SplittableRandom(seed)
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Small file helpers. */
object Files {
  import java.nio.file.{Files => F, Path}
  def list(dir: Path): Seq[Path] = {
    val s = F.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toVector.sortBy(_.toString) }
    finally s.close()
  }
  def deleteTree(p: Path): Unit =
    if (F.exists(p)) {
      val s = F.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toVector.reverse.foreach(F.deleteIfExists) }
      finally s.close()
    }
}
