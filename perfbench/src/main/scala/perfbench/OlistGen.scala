package perfbench

import graft.model.{OlistSchema, TableConfig}
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Seeded Olist-shaped CSV snapshots with defects injected at known rates,
  * plus an independent plain-Scala model of what the pipeline must do with
  * them: violations per (table, rule) and, per table, the insert / update /
  * tombstone counts of merging one snapshot into the state left by the
  * previous one.
  *
  * Cells are kept as the exact strings written to the CSV. Every value of
  * one column is formatted the same way, so two cells hold the same value
  * exactly when their strings are equal.
  */
object OlistGen {
  /** A table as written: header and raw cell strings. */
  final case class Table(name: String, header: Vector[String],
                         rows: Vector[Array[String]])

  /** Row-level defect rates, drawn exclusively (at most one per row). */
  final case class Defects(nullPk: Double = 0.004, dupPk: Double = 0.008,
                           danglingFk: Double = 0.008, nullFk: Double = 0.004,
                           nullToken: Double = 0.01, badTs: Double = 0.005)

  /** Change shares between the two snapshots, per entity row. */
  final case class Churn(delete: Double = 0.03, update: Double = 0.05,
                         insert: Double = 0.04)

  /** Entity counts; `points` is the geolocation rows per zip prefix. */
  final case class Scale(customers: Int, orders: Int, sellers: Int, zips: Int,
                         points: Int)

  /** The public Olist dataset's row counts divided by 200: 99 441
    * customers and orders, 3 095 sellers, 19 015 zip prefixes and
    * 1 000 163 geolocation rows (about 52 per prefix). */
  val Full = Scale(customers = 497, orders = 497, sellers = 15, zips = 95,
    points = 52)
  val Smoke = Scale(customers = 200, orders = 200, sellers = 20, zips = 40,
    points = 4)

  val NullTokens = Set("nan", "?")
  val BadTimestamps = Vector("0000-00-00 00:00:00", "2018-13-01 10:00:00")

  /** The tables the snapshots carry: a dimension with SCD2 history
    * (sellers), a fact with a foreign key and timestamps (orders) over its
    * parent dimension (customers), and the raw geolocation table, which
    * ingest splits into the three 3NF geo tables. */
  val Tables: Seq[String] = Seq("customers", "orders", "sellers", "geolocation")
  val GeoTables: Seq[String] = Seq("geo_city_state", "geo_zip", "geo_coordinates")

  /** The configs of the tables the pipeline checks and merges, from the
    * reference's Olist schema. */
  val configs: Seq[TableConfig] =
    OlistSchema.all.filter(c => (Tables ++ GeoTables).contains(c.name))

  private def fileName(table: String): String =
    if (table == "product_category_name_translation") s"$table.csv"
    else s"olist_${table}_dataset.csv"

  def write(dir: File, tables: Seq[Table]): Long = {
    dir.mkdirs()
    tables.map { t =>
      val sb = new StringBuilder
      sb.append(t.header.mkString(",")).append('\n')
      t.rows.foreach(r => sb.append(r.mkString(",")).append('\n'))
      Files.write(new File(dir, fileName(t.name)).toPath,
        sb.toString.getBytes(StandardCharsets.UTF_8))
      t.rows.size.toLong
    }.sum
  }

  // ------------------------------------------------------------------
  // logical model: entity rows without defects

  private val states = Vector("SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF",
    "GO", "PE", "CE", "PA", "MT", "ES", "MS")
  private val words = Vector("bom", "otimo", "produto", "chegou", "antes",
    "prazo", "recomendo", "entrega", "rapida", "qualidade", "ruim", "nao",
    "veio", "correto", "gostei", "muito", "excelente", "vendedor", "caixa")
  private val statuses = Vector("delivered", "shipped", "canceled",
    "invoiced", "processing", "approved")
  private val payTypes = Vector("credit_card", "boleto", "voucher",
    "debit_card")

  /** One entity table before defects: key columns first, as declared. */
  final case class Logical(cfg: TableConfig, rows: mutable.LinkedHashMap[String, Array[String]]) {
    val header: Vector[String] = cfg.payloadColumns.toVector
    def key(r: Array[String]): String =
      cfg.primaryKey.map(k => r(header.indexOf(k))).mkString("|")
    def put(r: Array[String]): Unit = rows(key(r)) = r
  }

  final class World(seed: Long, scale: Scale) {
    val rnd = new java.util.SplittableRandom(seed)
    private var counter = 0L
    def next(): Long = { counter += 1; counter }
    def pick[T](xs: Vector[T]): T = xs(rnd.nextInt(xs.size))
    def ts(base: Long): String = {
      val t = java.time.LocalDateTime.ofEpochSecond(base, 0,
        java.time.ZoneOffset.UTC)
      t.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
    def money(): String = f"${rnd.nextInt(1, 100000) / 100.0}%.2f"
    def text(n: Int): String = (1 to n).map(_ => pick(words)).mkString(" ")

    val cities: Vector[(String, String)] =
      (0 until (scale.zips / 5).max(4)).map(i => (s"cidade_$i", states(i % states.size))).toVector
    /** zip → (city, state) */
    val zips = mutable.LinkedHashMap.empty[Int, (String, String)]
    /** geolocation point id → (zip, lat, lng); every point has its own
      * coordinates, so (lng, lat) is a key */
    val points = mutable.LinkedHashMap.empty[Long, (Int, String, String)]
    def addPoint(zip: Int): Unit = {
      val id = next()
      points(id) = (zip, f"${-3.0 - id * 1e-4}%.6f",
        f"${-35.0 - (id * 7919 % 100000) * 1e-4}%.6f")
    }
    def addZip(): Int = {
      val zip = 10000 + zips.size * 7
      zips(zip) = pick(cities)
      (0 until scale.points).foreach(_ => addPoint(zip))
      zip
    }
    (0 until scale.zips).foreach(_ => addZip())

    private def logical(name: String) =
      Logical(OlistSchema.all.find(_.name == name).get, mutable.LinkedHashMap.empty)
    val customers = logical("customers")
    val sellers = logical("sellers")
    val orders = logical("orders")
    val payments = logical("order_payments")
    val reviews = logical("order_reviews")

    def located(): (String, String, String) = {
      val zip = pick(zips.keys.toVector)
      val (city, state) = zips(zip)
      (zip.toString, city, state)
    }
    def newCustomer(): Unit = {
      val (zip, city, state) = located()
      customers.put(Array(f"c${next()}%08d", f"u${rnd.nextLong() & 0xffffffffL}%08x",
        zip, city, state))
    }
    def newSeller(): Unit = {
      val (zip, city, state) = located()
      sellers.put(Array(f"s${next()}%06d", zip, city, state))
    }
    def newOrder(): Unit = {
      val id = f"o${next()}%08d"
      val cust = pick(customers.rows.values.toVector)(0)
      val t0 = 1514764800L + rnd.nextInt(0, 60 * 86400 * 10)
      val stamps = Seq(0L, 3600L * rnd.nextInt(1, 48), 86400L * rnd.nextInt(1, 5),
        86400L * rnd.nextInt(5, 20), 86400L * rnd.nextInt(20, 40))
        .scanLeft(t0)(_ + _).tail.map(ts)
      orders.put(Array(id, cust, pick(statuses)) ++ stamps)
      (1 to rnd.nextInt(1, 3)).foreach { i =>
        payments.put(Array(id, i.toString, pick(payTypes),
          rnd.nextInt(1, 11).toString, money()))
      }
      if (rnd.nextDouble() < 0.9) {
        val created = t0 + 86400L * 30
        reviews.put(Array(f"r${next()}%08d", id, rnd.nextInt(1, 6).toString,
          text(2), text(rnd.nextInt(3, 15)), ts(created),
          ts(created + 3600L * rnd.nextInt(1, 72))))
      }
    }

    (0 until scale.customers).foreach(_ => newCustomer())
    (0 until scale.sellers).foreach(_ => newSeller())
    (0 until scale.orders).foreach(_ => newOrder())

    /** Move the world one snapshot on: deletes, payload updates and
      * inserts at the given shares. Orders delete with their payments and
      * reviews; customers are only updated or added, so no surviving row
      * loses its parent. */
    def churn(c: Churn): Unit = {
      def sampleKeys[K](keys: Iterable[K], share: Double): Vector[K] =
        keys.filter(_ => rnd.nextDouble() < share).toVector
      def sample(l: Logical, share: Double): Vector[String] =
        sampleKeys(l.rows.keys, share)
      def update(l: Logical, col: String, value: () => String): Unit = {
        val i = l.header.indexOf(col)
        sample(l, c.update).foreach { k =>
          val r = l.rows(k).clone()
          var v = value()
          while (v == r(i)) v = value()
          r(i) = v
          l.rows(k) = r
        }
      }
      val goneOrders = sample(orders, c.delete).toSet
      goneOrders.foreach(orders.rows.remove)
      Seq(payments, reviews).foreach { l =>
        val oi = l.header.indexOf("order_id")
        l.rows.filterInPlace { case (_, r) => !goneOrders.contains(r(oi)) }
      }
      Seq(payments, reviews, sellers).foreach { l =>
        sample(l, c.delete).foreach(l.rows.remove)
      }
      // geolocation: points vanish or move, some prefixes change city
      sampleKeys(points.keys, c.delete).foreach(points.remove)
      sampleKeys(points.keys, c.update).foreach { id =>
        val zip = points.remove(id).get._1
        addPoint(zip)
      }
      sampleKeys(zips.keys, c.update).foreach { z =>
        var v = pick(cities)
        while (v == zips(z)) v = pick(cities)
        zips(z) = v
      }
      update(customers, "customer_city", () => pick(cities)._1)
      update(sellers, "seller_city", () => pick(cities)._1)
      update(orders, "order_status", () => pick(statuses))
      update(payments, "payment_value", () => money())
      update(reviews, "review_score", () => rnd.nextInt(1, 6).toString)
      (0 until (scale.zips * c.insert).ceil.toInt).foreach(_ => addZip())
      def grow(l: Logical, add: () => Unit): Unit =
        (0 until (l.rows.size * c.insert).ceil.toInt).foreach(_ => add())
      grow(customers, () => newCustomer())
      grow(sellers, () => newSeller())
      grow(orders, () => newOrder())
    }

    /** Named tables of the snapshot as CSV tables, defects drawn afresh. */
    def snapshot(d: Defects, tables: Seq[String] = Tables): Seq[Table] =
      Seq(customers, sellers, orders, payments, reviews)
        .filter(l => tables.contains(l.cfg.name)).map(l => defective(l, d)) ++
        (if (tables.contains("geolocation")) Seq(geolocation(d)) else Nil)

    /** The raw geolocation table: one row per point, with exact duplicate
      * rows and `nan` coordinates at the defect rates. */
    private def geolocation(d: Defects): Table = {
      val out = Vector.newBuilder[Array[String]]
      points.values.foreach { case (zip, lat, lng) =>
        val (city, state) = zips(zip)
        val r = Array(zip.toString, lat, lng, city, state)
        val u = rnd.nextDouble()
        if (u < d.nullToken) r(1 + rnd.nextInt(2)) = "nan"
        out += r
        if (u >= d.nullToken && u < d.nullToken + d.dupPk) out += r.clone()
      }
      Table("geolocation", GeoHeader, out.result())
    }

    private def defective(l: Logical, d: Defects): Table = {
      val cfg = l.cfg
      val pkIdx = cfg.primaryKey.map(l.header.indexOf)
      val fkIdx = cfg.foreignKeys.map(f => l.header.indexOf(f.column))
      val kinds = l.header.map(h => cfg.columns.find(_.name == h).get.dataType)
      val payloadIdx = l.header.indices.filterNot(i => pkIdx.contains(i) || fkIdx.contains(i))
      val tsIdx = l.header.indices.filter(i => kinds(i) == TimestampType)
      val out = Vector.newBuilder[Array[String]]
      l.rows.values.foreach { logicalRow =>
        val r = logicalRow.clone()
        val u = rnd.nextDouble()
        var edge = d.nullPk
        var dup = false
        if (u < edge) r(pick(pkIdx.toVector)) = "nan"
        else if ({ edge += d.dupPk; u < edge }) dup = true
        else if ({ edge += d.danglingFk; u < edge } && fkIdx.nonEmpty)
          r(pick(fkIdx.toVector)) = s"missing_${next()}"
        else if ({ edge += d.nullFk; u < edge } && fkIdx.nonEmpty)
          r(pick(fkIdx.toVector)) = "nan"
        else if ({ edge += d.nullToken; u < edge } && payloadIdx.nonEmpty) {
          val i = pick(payloadIdx.toVector)
          r(i) = if (kinds(i) == StringType && rnd.nextBoolean()) "?" else "nan"
        } else if ({ edge += d.badTs; u < edge } && tsIdx.nonEmpty)
          r(pick(tsIdx.toVector)) = pick(BadTimestamps)
        out += r
        if (dup) out += r.clone()
      }
      Table(cfg.name, l.header, out.result())
    }
  }

  // ------------------------------------------------------------------
  // expected outcome model

  /** One table after ingest: header and cells, None where the engine
    * reads a null. */
  final case class Parsed(header: Vector[String], rows: Vector[Vector[Option[String]]]) {
    def col(name: String): Int = header.indexOf(name)
  }

  private def parse(t: Table, cfg: Option[TableConfig]): Parsed = {
    val kinds = t.header.map(h => cfg.flatMap(_.columns.find(_.name == h))
      .map(_.dataType).getOrElse(StringType))
    Parsed(t.header, t.rows.map(_.toVector.zipWithIndex.map { case (c, i) =>
      if (NullTokens.contains(c) ||
          (kinds(i) == TimestampType && BadTimestamps.contains(c))) None
      else Some(c)
    }))
  }

  val GeoHeader: Vector[String] = Vector("geolocation_zip_code_prefix",
    "geolocation_lat", "geolocation_lng", "geolocation_city", "geolocation_state")

  /** The registry after ingest, geolocation split into its 3NF tables. */
  def registry(tables: Seq[Table]): Map[String, Parsed] =
    tables.flatMap { t =>
      if (t.name == "geolocation") splitGeolocation(t)
      else Seq(t.name -> parse(t, configs.find(_.name == t.name)))
    }.toMap

  /** The geolocation split as `Normalize.splitGeolocation` specifies it:
    * distinct (city, state) numbered 1.. in (city, state) order, each
    * prefix's city id, and the distinct (zip, lng, lat) rows. */
  def splitGeolocation(t: Table): Seq[(String, Parsed)] = {
    val rows = parse(t, None).rows
    val cityState = rows.map(r => (r(3).get, r(4).get)).distinct.sorted
    val ids = cityState.zipWithIndex.map { case (cs, i) => cs -> (i + 1).toString }.toMap
    Seq(
      "geo_city_state" -> Parsed(Vector("city_id", "city", "state"),
        cityState.map { case (c, s) => Vector(Some(ids((c, s))), Some(c), Some(s)) }),
      "geo_zip" -> Parsed(Vector("zip_code", "city_id"),
        rows.map(r => Vector(r(0), Some(ids((r(3).get, r(4).get))))).distinct),
      "geo_coordinates" -> Parsed(Vector("zip_code", "longitude", "latitude"),
        rows.map(r => Vector(r(0), r(2), r(1))).distinct))
  }

  final case class Expected(violations: Map[(String, String), Long],
                            cleaned: Map[String, Parsed])

  /** The standard rule set (primary key, foreign key, column types, null
    * census, emoji), applied the way the pipeline specifies it. */
  def expectedRules(reg: Map[String, Parsed]): Expected = {
    val viol = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val cleaned = configs.filter(c => reg.contains(c.name)).map { cfg =>
      val t = reg(cfg.name)
      val pk = cfg.primaryKey.map(t.col)
      val (nullPk, nonNull) = t.rows.partition(r => pk.exists(r(_).isEmpty))
      val seen = mutable.HashSet.empty[Vector[Option[String]]]
      val deduped = nonNull.filter(r => seen.add(pk.map(r).toVector))
      viol((cfg.name, "primary_key")) += nullPk.size + nonNull.size - deduped.size
      var rows = deduped
      cfg.foreignKeys.foreach { fk =>
        reg.get(fk.refTable).foreach { parent =>
          val keys = parent.rows.flatMap(_(parent.col(fk.refColumn))).toSet
          val i = t.col(fk.column)
          val nulls = rows.count(_(i).isEmpty)
          val (ok, dangling) = rows.partition(r => r(i).forall(keys.contains))
          viol((cfg.name, "foreign_key")) += nulls + dangling.size
          rows = ok
        }
      }
      viol((cfg.name, "column_types")) += cfg.columns.count(c => !t.header.contains(c.name))
      viol((cfg.name, "null_census")) += t.header.indices.count(i => rows.exists(_(i).isEmpty))
      cfg.name -> Parsed(t.header, rows)
    }.toMap
    Expected(viol.toMap.filter(_._2 > 0), cleaned)
  }

  /** Stored state of one table: key → (payload cells, is_deleted). */
  type State = Map[Vector[Option[String]], (Vector[Option[String]], Boolean)]

  final case class MergeCounts(inserts: Long, updates: Long, tombstones: Long)

  /** Classify an incoming cleaned table against stored state and return
    * the counts plus the state after the merge. */
  def merge(cfg: TableConfig, in: Parsed, state: State): (MergeCounts, State) = {
    val pk = cfg.primaryKey.map(in.col)
    val incoming = in.rows.map(r => pk.map(r).toVector -> r).toMap
    var ins, upd, tomb = 0L
    val next = mutable.Map.from(state)
    incoming.foreach { case (k, r) =>
      state.get(k) match {
        case None => ins += 1; next(k) = (r, false)
        case Some((old, del)) if old != r => upd += 1; next(k) = (r, del)
        case _ => ()
      }
    }
    state.foreach { case (k, (old, del)) =>
      if (!del && !incoming.contains(k)) { tomb += 1; next(k) = (old, true) }
    }
    (MergeCounts(ins, upd, tomb), next.toMap)
  }
}
