package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.taxi.TaxiFixture

/** Seeded input generators. Everything is integer hash arithmetic over
  * `range` ids, so a generator is the same function of its arguments on
  * every run and every core count.
  *
  *  - [[events]]: an sf0.1-shaped `events` table (100k rows over one
  *    calendar month) — the base of the raw taxi drop.
  *  - [[rawDrop]]: the TLC-layout raw drop, one file per cab per month.
  *  - [[gateTables]]: the ten fixture tables the `SparkEntry` gates read,
  *    at sf0.01 row counts with the test fixtures' schemas.
  */
object DataGen {

  /** sf0.1 `events` row count; one raw-drop month per copy. */
  val EventsPerMonth = 100000L
  val Cabs: Seq[String] = Seq("yellow", "green", "fhv", "fhvhv")

  private def h(salt: Int, cs: Column*): Column = xxhash64((cs :+ lit(salt)): _*)
  private def mod(salt: Int, m: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(m))
  private def pick(vs: Seq[String], i: Column): Column =
    element_at(array(vs.map(lit): _*), (i + 1).cast("int"))
  /** Epoch micros → TIMESTAMP_NTZ (the fixtures' parquet timestamps are
    * not UTC-adjusted). */
  private def ntz(micros: Column): Column =
    timestamp_micros(micros).cast("timestamp_ntz")

  private val Jan2024Micros = 1704067200000000L
  private val MonthSpanMicros = 30L * 86400L * 1000000L

  /** `events(event_id, ts, user_id, event_type, value, props)`, event
    * ids in ts order over 2024-01-01 .. 2024-01-30. */
  def events(spark: SparkSession, n: Long = EventsPerMonth): DataFrame =
    eventsFrom(spark.range(0, n, 1, 4).toDF(), n, col("id")).drop("_copy")

  private def eventsFrom(ids: DataFrame, n: Long, id: Column): DataFrame = {
    val step = MonthSpanMicros / n
    ids.select(
      id.as("event_id"),
      ntz(lit(Jan2024Micros) + id * step + mod(1, step, id)).as("ts"),
      mod(2, 1500, id).as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase"), mod(3, 5, id)).as("event_type"),
      (mod(4, 56022, id) / 100.0).as("value"),
      concat(lit("{\"k\": "), mod(5, 100, id).cast("string"), lit("}")).as("props"),
      (col("id") / n).cast("int").as("_copy"))
  }

  /** Write `df` as exactly one parquet file at `target`. */
  def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    moveParts(tmp, Seq(target))
  }

  /** Move the part files of a Spark output dir (recursively, sorted by
    * path) onto `targets`, one each, and delete the dir. */
  private def moveParts(dir: Path, targets: Seq[Path]): Unit = {
    val parts = walk(dir).filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString)
    require(parts.size == targets.size,
      s"expected ${targets.size} part files under $dir, found ${parts.size}")
    parts.zip(targets).foreach { case (p, t) =>
      Files.createDirectories(t.getParent)
      Files.move(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    delete(dir)
  }

  def delete(p: Path): Unit = if (Files.exists(p)) graft.Fs.deleteRecursively(p)

  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  /** Raw-drop plan for `seed`: copy `c` of the events table gets event
    * id offset `base + c·10⁶` and lands in calendar month `monthOf(c)` of
    * 2024 (a seeded permutation of the first `months` months). */
  final case class DropPlan(seed: Long, months: Int) {
    val idBase: Long = 10000000L * (1 + java.lang.Math.floorMod(seed, 1000L))
    val monthOf: IndexedSeq[Int] =
      new scala.util.Random(seed).shuffle((1 to months).toVector)
    def ym(month: Int): String = f"2024-$month%02d"
  }

  final case class Drop(plan: DropPlan, rows: Long, bytes: Long,
                        files: Map[(String, Int), Path])

  /** TLC-layout raw drop under `dir`: `<cab>/<cab>_tripdata_<yyyy-MM>.parquet`,
    * one file per cab per month, written through the library's own
    * `TaxiFixture.*FromEvents` schema builders. */
  def rawDrop(spark: SparkSession, dir: Path, plan: DropPlan): Drop = {
    delete(dir)
    // one range partition per copy, so each write task holds exactly one
    // month and the per-month files need no shuffle
    val n = EventsPerMonth
    val shift = element_at(array(plan.monthOf.map(m => lit(m - 1)): _*), col("_copy") + 1)
    val copies = eventsFrom(spark.range(0, n * plan.months, 1, plan.months).toDF(), n, col("id") % n)
      .withColumn("event_id", col("event_id") + lit(plan.idBase) + col("_copy") * 1000000L)
      .withColumn("ts", col("ts") + make_ym_interval(lit(0), shift))
    // the four cab files are independent jobs of `months` tasks each:
    // submit them together so every core has a task
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Cabs.map { cab => Future {
      val raw = cab match {
        case "yellow" => TaxiFixture.yellowFromEvents(copies)
        case "green" => TaxiFixture.greenFromEvents(copies)
        case "fhv" => TaxiFixture.fhvFromEvents(copies)
        case "fhvhv" => TaxiFixture.fhvhvFromEvents(copies)
      }
      val tmp = dir.resolve(s"$cab.tmp")
      raw.withColumn("_ym", date_format(raw.columns.find(_.toLowerCase.contains("pickup")).map(col).get,
        "yyyy-MM")).write.partitionBy("_ym").parquet(tmp.toString)
      val months = plan.monthOf.sorted
      val targets = months.map(m =>
        dir.resolve(cab).resolve(s"${cab}_tripdata_${plan.ym(m)}.parquet"))
      moveParts(tmp, targets)
      months.zip(targets).map { case (m, t) => (cab, m) -> t }
    }}
    val files = writes.flatMap(Await.result(_, scala.concurrent.duration.Duration.Inf)).toMap
    Drop(plan, n * plan.months * Cabs.size, files.values.map(Files.size).sum, files)
  }

  /** Row counts of the gate fixture tables: the sf0.01 test fixtures'. */
  val GateTableRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
    "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
    "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  private val Words = Seq("a", "the", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window")

  private def dateNtz(days: Column): Column =
    ntz((lit(694224000L) + days * 86400L) * 1000000L) // 1992-01-01 + days

  /** The fixture tables (all ten, or `only` those named) as single
    * parquet files `<dir>/<table>.parquet`
    * (the layout `graft.sources.Tables` and the DuckDB oracle read). The
    * content does not depend on any seed, so gate goldens stay fixed. */
  def gateTables(spark: SparkSession, dir: Path, only: Set[String] = GateTableRows.keySet): Unit = {
    val id = col("id")
    def rng(n: Long) = spark.range(0, n, 1, 4)
    val r = GateTableRows
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> rng(r("region")).select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name")),
      "nation" -> rng(r("nation")).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> rng(r("customer")).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        mod(21, 25, id).cast("int").as("c_nationkey"),
        ((mod(22, 1100000, id) - 100000) / 100.0).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          mod(23, 5, id)).as("c_mktsegment")),
      "supplier" -> rng(r("supplier")).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        mod(31, 25, id).cast("int").as("s_nationkey"),
        ((mod(32, 1100000, id) - 100000) / 100.0).as("s_acctbal")),
      "part" -> rng(r("part")).select(id.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("red", "blue", "green", "hot", "large", "small", "pale", "dark"), mod(41, 8, id)),
          pick(Seq("ring", "bolt", "nut", "gear", "pipe", "valve"), mod(42, 6, id))).as("p_name"),
        concat(lit("Brand#"), (mod(43, 25, id) + 1).cast("string")).as("p_brand"),
        pick(Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"), mod(44, 6, id)).as("p_type"),
        (mod(45, 50, id) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")),
      "orders" -> rng(r("orders")).select(id.as("o_orderkey"),
        mod(51, r("customer"), id).as("o_custkey"),
        pick(Seq("O", "F", "P"), mod(52, 3, id)).as("o_orderstatus"),
        ((mod(53, 50000000, id) + 100000) / 100.0).as("o_totalprice"),
        dateNtz(mod(54, 3650, id)).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          mod(55, 5, id)).as("o_orderpriority")),
      "lineitem" -> rng(r("lineitem")).select(mod(61, r("orders"), id).as("l_orderkey"),
        mod(62, r("part"), id).as("l_partkey"),
        mod(63, r("supplier"), id).as("l_suppkey"),
        (mod(64, 7, id) + 1).cast("int").as("l_linenumber"),
        (mod(65, 50, id) + 1).cast("double").as("l_quantity"),
        ((mod(66, 10000000, id) + 90000) / 100.0).as("l_extendedprice"),
        (mod(67, 11, id) / 100.0).as("l_discount"),
        (mod(68, 9, id) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), mod(69, 3, id)).as("l_returnflag"),
        pick(Seq("O", "F"), mod(70, 2, id)).as("l_linestatus"),
        dateNtz(mod(71, 3650, id)).as("l_shipdate")),
      "events" -> events(spark, r("events")),
      "documents" -> {
        // every 50th document repeats its predecessor's text with its
        // third word changed, every 600th repeats it exactly: near and
        // exact duplicates for the dedup gates
        val copy = id % 50 === 49
        val textId = when(copy, id - 1).otherwise(id)
        val edited = copy && id % 600 =!= 599
        val nWords = (mod(81, 60, textId) + 10).cast("int")
        val text = array_join(transform(sequence(lit(1), nWords), i =>
          when(edited && i === 3, lit("zeta")).otherwise(element_at(array(Words.map(lit): _*),
            (pmod(xxhash64(textId, i, lit(82)), lit(Words.size.toLong)) + 1).cast("int")))), " ")
        rng(r("documents")).select(id.as("doc_id"), text.as("text"),
          pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), mod(83, 7, id)).as("lang"),
          concat(lit("src"), mod(84, 20, id).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        // ten loose clusters: a per-label centre plus per-vector noise
        val label = mod(91, 10, id)
        val emb = transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(label, j, lit(92)), lit(2001L)) - 1000) / 20000.0 +
            (pmod(xxhash64(id, j, lit(93)), lit(2001L)) - 1000) / 5000.0).cast("float"))
        rng(r("embeddings")).select(id.as("vec_id"), emb.as("embedding"),
          label.cast("int").as("label"))
      })
    Files.createDirectories(dir)
    tables.filter(t => only(t._1)).foreach { case (name, df) =>
      writeSingleFile(df, dir.resolve(s"$name.parquet"))
    }
  }
}
