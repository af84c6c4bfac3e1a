package graftbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{GraftEtl, ReferenceEtl}
import graft.sources.{CsvWatermarkSource, HttpJsonSource, JdbcSource, ParquetSink}

/** `etl_reference`: the reference pipeline at the reference's scale.
  *
  * Inputs, all generated from the seed: six headerless `NN.csv` order
  * files of which the watermark (file number > 3) admits the last two,
  * an in-memory Derby table of all-string order rows with keys on both
  * sides of the key watermark, and a product-dimension JSON payload
  * served through an injected HTTP transport. Post-watermark there are
  * ~66k orders packing ~21 `product|aisle|qty` items each (~1.4M fact
  * rows) and a ~50k-row dimension.
  *
  * While it writes the inputs the generator derives what the pipeline
  * must output: the products row count and an order-insensitive
  * checksum, and per user the category the all-or-nothing rule assigns.
  */
final class EtlReference extends Workload {
  override def passOps: Set[String] = Set("etl.start")
  // a fifth of the reference's scale: ~13k post-watermark orders,
  // ~280k fact rows, a ~10k-row dimension
  override def defaultScale: Double = 0.2

  private val Departments = Seq("dairy eggs", "bakery", "household", "babies",
    "canned goods", "meat seafood", "alcohol", "snacks", "beverages", "pets",
    "frozen", "produce", "pantry", "deli", "breakfast", "international",
    "dry goods pasta", "personal care", "missing", "other", "bulk")
  private val Categories = Seq("Mom", "Single", "Pet Friendly", "A complete mystery")
  private val Segments = Set("You've Got a Friend in Me", "Baby come Back",
    "Special Offers", "Undefined")
  private val CsvFiles = 6
  private val FileWatermark = 3
  private val KeyBase = 150000L

  // key-value reads of single users per pass, as a downstream consumer does
  private val Lookups = 4

  /** Expected output, derived from the generated inputs; `users` holds,
    * per user, (product rows, quantity, category). */
  final case class Expected(products: Long, productSums: Seq[Long],
                            clients: Long, categoryCounts: Map[String, Long],
                            clientSum: Long, users: Map[Long, (Long, Long, String)])

  private var csvDir = ""
  private var jdbcUrl = ""
  private var payload = ""
  private var keyWatermark = 0L
  private var expected: Expected = _
  private var outRoot: Path = _
  private var lookupRnd: SplittableRandom = _

  private def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  override def setup(spark: SparkSession, dir: Path, seed: Long,
                     scale: Double, events: Events): Unit = {
    Files.createDirectories(dir)
    outRoot = dir.resolve("out")
    val rnd = new SplittableRandom(seed)
    val nProducts = math.max(100, (49688 * scale).toInt)
    val nUsers = math.max(50, (40000 * scale).toInt)
    val perFile = math.max(10, (16500 * scale).toInt)
    val dbRows = math.max(10, (35000 * scale).toInt)
    val dbBelow = dbRows * 2 / 35

    // product dimension: name -> department index
    val dept = Array.tabulate(nProducts)(_ => rnd.nextInt(Departments.size))
    val names = Array.tabulate(nProducts)(i => f"p$i%05d ${Departments(dept(i)).take(4)}")
    val byDept = (0 until Departments.size).map(d => dept.indices.filter(dept(_) == d).toArray)
    val json = new StringBuilder("{\"results\":[{\"columns\":[\"product_name\",\"aisle\",\"department\"],\"items\":[")
    names.indices.foreach { i =>
      if (i > 0) json += ','
      json ++= s"""{"product_name":"${names(i)}","aisle":"aisle ${i % 134}","department":"${Departments(dept(i))}"}"""
    }
    json ++= "]}]}"
    payload = json.toString

    // users: a few buy from one department set only, so every category occurs
    val mom = ReferenceEtl.MomDepartments.map(Departments.indexOf(_)).toArray
    val single = ReferenceEtl.SingleDepartments.map(Departments.indexOf(_)).toArray
    val pet = ReferenceEtl.PetFriendlyDepartments.map(Departments.indexOf(_)).toArray
    val profile = Array.tabulate(nUsers) { _ =>
      val r = rnd.nextInt(100)
      if (r < 8) mom else if (r < 14) single else if (r < 18) pet else null
    }
    // per user: (total, mom, single, pet) quantities and product rows
    val userRows = mutable.LongMap[Long]().withDefaultValue(0L)
    val userQty = mutable.LongMap[Array[Long]]()
    var products = 0L
    val sums = Array.fill(5)(0L)

    def order(orderId: Long, post: Boolean): Array[String] = {
      val user = 1 + rnd.nextInt(nUsers)
      val prof = profile(user - 1)
      val items = 1 + rnd.nextInt(41)
      val hour = rnd.nextInt(25)
      val detail = new StringBuilder
      (0 until items).foreach { j =>
        val qty = 1 + rnd.nextInt(10)
        val unknown = prof == null && rnd.nextInt(50) == 0
        val (name, d) =
          if (unknown) (s"unlisted ${rnd.nextInt(1000)}", -1)
          else {
            val pool = if (prof == null) null else byDept(prof(rnd.nextInt(prof.length)))
            val p = if (pool == null) rnd.nextInt(nProducts) else pool(rnd.nextInt(pool.length))
            (names(p), dept(p))
          }
        // a few names carry a non-ASCII suffix the pipeline strips
        val shown = if (rnd.nextInt(100) == 0) name + "é" else name
        if (j > 0) detail += '~'
        detail ++= s"$shown|aisle ${rnd.nextInt(134)}|$qty"
        if (post) {
          products += 1
          sums(0) += qty
          sums(1) += orderId * qty
          sums(2) += crc(name.trim) // validation trims the product name
          sums(3) += (if (d < 0) 0L else crc(Departments(d)))
          sums(4) += (if (hour == 24) 0 else hour)
          userRows(user) += 1
          val u = userQty.getOrElseUpdate(user, new Array[Long](4))
          u(0) += qty
          if (d >= 0 && mom.contains(d)) u(1) += qty
          if (d >= 0 && single.contains(d)) u(2) += qty
          if (d >= 0 && pet.contains(d)) u(3) += qty
        }
      }
      Array(orderId.toString, user.toString, (1 + rnd.nextInt(100)).toString,
        rnd.nextInt(7).toString, hour.toString, s"${rnd.nextInt(31)}.0", detail.toString)
    }

    // watermarked CSV files 00.csv .. 05.csv
    val csv = dir.resolve("orders_csv")
    Files.createDirectories(csv)
    var csvBytes = 0L
    var nextId = 1L
    (0 until CsvFiles).foreach { f =>
      val p = csv.resolve(f"$f%02d.csv")
      val w: BufferedWriter = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
      try (0 until perFile).foreach { _ =>
        w.write(order(nextId, f > FileWatermark).mkString(","))
        w.write('\n')
        nextId += 1
      } finally w.close()
      csvBytes += Files.size(p)
    }
    csvDir = csv.toString

    // Derby table, all-string columns, keys on both sides of the watermark
    jdbcUrl = s"jdbc:derby:memory:graftbench_${dir.getFileName};create=true"
    keyWatermark = KeyBase + dbBelow - 1
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      conn.createStatement().execute("CREATE TABLE orders (order_id VARCHAR(20), " +
        "user_id VARCHAR(20), order_number VARCHAR(10), order_dow VARCHAR(10), " +
        "order_hour_of_day VARCHAR(10), days_since_prior_order VARCHAR(10), " +
        "order_detail VARCHAR(8000))")
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?, ?)")
      (0 until dbRows).foreach { i =>
        val id = KeyBase + i
        order(id, id > keyWatermark).zipWithIndex.foreach { case (v, c) => ps.setString(c + 1, v) }
        ps.addBatch()
        if (i % 1000 == 999) ps.executeBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally conn.close()

    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    var clientSum = 0L
    val users = userQty.map { case (user, q) =>
      val cat = if (q(1) == q(0)) "Mom" else if (q(2) == q(0)) "Single"
        else if (q(3) == q(0)) "Pet Friendly" else "A complete mystery"
      counts(cat) += 1
      clientSum += user * (Categories.indexOf(cat) + 1)
      user -> (userRows(user), q(0), cat)
    }
    expected = Expected(products, sums.toSeq, userQty.size.toLong, counts.toMap, clientSum,
      users.toMap)
    lookupRnd = new SplittableRandom(seed ^ 0x5eedL)

    events.line(Json.obj("ev" -> "input", "name" -> "csv_files", "value" -> CsvFiles, "unit" -> "files"))
    events.line(Json.obj("ev" -> "input", "name" -> "csv_rows", "value" -> CsvFiles * perFile, "unit" -> "rows"))
    events.line(Json.obj("ev" -> "input", "name" -> "csv_bytes", "value" -> csvBytes, "unit" -> "B"))
    events.line(Json.obj("ev" -> "input", "name" -> "jdbc_rows", "value" -> dbRows, "unit" -> "rows"))
    events.line(Json.obj("ev" -> "input", "name" -> "dim_rows", "value" -> nProducts, "unit" -> "rows"))
    events.line(Json.obj("ev" -> "input", "name" -> "dim_payload_bytes", "value" -> payload.length, "unit" -> "B"))
    events.line(Json.obj("ev" -> "input", "name" -> "fact_rows", "value" -> products, "unit" -> "rows"))
  }

  private def csvSource = CsvWatermarkSource(csvDir, ReferenceEtl.ProductSchema,
    fileNumberGt = FileWatermark)
  private def jdbcSource = JdbcSource(jdbcUrl, "orders", "", "",
    "org.apache.derby.jdbc.EmbeddedDriver", watermark = Some(("order_id", keyWatermark)))
  private def httpSource = new HttpJsonSource("http://products.invalid/api",
    transport = _ => payload)

  /** Traced passes only: each source read on its own, to a no-op sink. */
  private def ingestProbes(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("read", "ingest.csv") {
      val src = csvSource
      val listed = {
        val p = new HPath(csvDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).length
      }
      ctx.tracer.count("files_listed", listed)
      ctx.tracer.count("files_read", src.fileNames(spark).length)
      src.read(spark).write.format("noop").mode("overwrite").save()
    }
    ctx.op("read", "ingest.jdbc") {
      val rows = jdbcSource.read(spark).collect().length
      ctx.tracer.count("rows", rows)
    }
    ctx.op("read", "ingest.http") {
      httpSource.read(spark).write.format("noop").mode("overwrite").save()
    }
  }

  override def pass(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val out = outRoot.resolve(s"pass$i")
    // start() leaves its validated frame cached; a later pass over the same
    // inputs would reuse it and skip every source read
    spark.catalog.clearCache()
    if (ctx.tracer.on) ingestProbes(ctx)
    val etl = new GraftEtl(spark, csvSource, jdbcSource, httpSource,
      Some(out.toString), deterministicSegments = true)
    ctx.op("write", "etl.start") {
      if (!ctx.tracer.on) etl.start()
      else {
        // the body of GraftEtl.start(), one public call at a time
        val (products, clients) = ReferenceEtl.run(spark, etl.ordersFromFiles(),
          etl.ordersFromDb(), etl.productDetails(), deterministicSegments = true)
        ctx.tracer.span("etl.products_write")(ParquetSink(out.toString, "products").write(products))
        ctx.tracer.span("etl.clients_write")(ParquetSink(out.toString, "clients").write(clients))
      }
    }
    val bytes = Main.dirBytes(out)
    checkOutputs(ctx, out.toString)
    val users = expected.users.keys.toIndexedSeq.sorted
    (0 until Lookups).foreach(_ => lookupUser(ctx, out.toString, users(lookupRnd.nextInt(users.size))))
    ctx.count("sink.bytes", bytes.toDouble)
    ctx.count("sink.rows", (expected.products + expected.clients).toDouble)
    Main.deleteTree(out)
  }

  /** One read operation: a user's product rows and client row. */
  private def lookupUser(ctx: Ctx, out: String, user: Long): Unit = {
    val spark = ctx.spark
    val (p, c) = ctx.op("read", "etl.lookup_user") {
      val p = spark.read.parquet(s"$out/products").where(col("user_id") === user)
        .agg(count(lit(1)), sum(col("number_of_products").cast("long"))).collect().head
      val c = spark.read.parquet(s"$out/clients").where(col("user_id") === user)
        .select(col("category")).collect().map(_.getString(0)).toSeq
      (p, c)
    }
    val (rows, qty, cat) = expected.users(user)
    val want = if (ctx.corrupt) rows + 1 else rows
    ctx.check("user", p.getLong(0) == want && p.getLong(1) == qty && c == Seq(cat),
      s"user $user: ${p.getLong(0)} rows, qty ${p.getLong(1)}, $c vs expected $want, $qty, $cat")
  }

  /** Both output tables read back in full and summarised (a check, not
    * one of the workload's timed operations). */
  private def checkOutputs(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    val hr = col("order_hour_of_day").cast("long")
    val p = spark.read.parquet(s"$out/products").agg(count(lit(1)),
      sum(col("number_of_products").cast("long")),
      sum(col("order_id") * col("number_of_products")),
      sum(crc32(col("product").cast("binary"))),
      sum(coalesce(crc32(col("department").cast("binary")), lit(0L))),
      sum(hr)).collect().head
    val c = spark.read.parquet(s"$out/clients").groupBy(col("category"))
      .agg(count(lit(1)), sum(col("user_id")),
        sum(when(col("client_segment").isin(Segments.toSeq: _*), 1L).otherwise(0L)))
      .collect()
    val got = (0 until 6).map(p.getLong)
    val want = expected.products +: expected.productSums
    ctx.check("products", got == want, s"products $got vs expected $want")

    val counts = c.map(r => r.getString(0) -> r.getLong(1)).toMap
    val sumGot = c.map(r => r.getLong(2) * (Categories.indexOf(r.getString(0)) + 1)).sum
    val segOk = c.map(_.getLong(3)).sum == counts.values.sum
    ctx.check("clients", counts == expected.categoryCounts &&
      counts.values.sum == expected.clients && sumGot == expected.clientSum && segOk,
      s"clients $counts (sum $sumGot, segments ok $segOk) vs expected " +
        s"${expected.categoryCounts} (sum ${expected.clientSum})")
  }
}
