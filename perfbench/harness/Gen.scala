package perfbench

import java.io._
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Line writer for generated inputs: UTF-8, '\n' line ends, so the same
  * seed gives byte-identical files.
  */
final class TextOut(f: File) extends AutoCloseable {
  f.getParentFile.mkdirs()
  private val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
  var lines = 0L
  def line(s: String): Unit = { w.write(s); w.write('\n'); lines += 1 }
  def csv(fields: String*): Unit = line(fields.map(Gen.csvField).mkString(","))
  def close(): Unit = w.close()
}

/** What a generator produced: data rows (headers excluded) and bytes. */
final case class GenInfo(rows: Long, bytes: Long)

object Gen {
  /** RFC-4180 field: quoted when it holds a comma, quote or newline; null
    * renders as the empty field Spark's CSV reader maps to null.
    */
  def csvField(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def money(cents: Long): String =
    "$" + String.format(Locale.ROOT, "%,d.%02d", Long.box(cents / 100), Long.box(cents % 100))

  def dec2(cents: Long): String =
    String.format(Locale.ROOT, "%d.%02d", Long.box(cents / 100), Long.box(cents % 100))

  def coord(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))

  def day(epochDay: Long): String = LocalDate.ofEpochDay(epochDay).toString

  def epochDay(iso: String): Long = LocalDate.parse(iso).toEpochDay

  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  def chance(r: SplittableRandom, pct: Double): Boolean = r.nextDouble() * 100.0 < pct

  /** sha256 over every file under `dir` (relative path + bytes), in path
    * order — the determinism check on generated inputs.
    */
  def sha256(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = dir.getAbsoluteFile.toPath
    Files.tree(dir).foreach { f =>
      md.update(base.relativize(f.getAbsoluteFile.toPath).toString.getBytes(UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def info(dir: File, rows: Long): GenInfo = GenInfo(rows, Files.tree(dir).map(_.length).sum)

  val Hoods: IndexedSeq[(String, String)] = IndexedSeq(
    "Mitte" -> "Mitte", "Moabit" -> "Mitte", "Wedding" -> "Mitte",
    "Kreuzberg" -> "Friedrichshain-Kreuzberg", "Friedrichshain" -> "Friedrichshain-Kreuzberg",
    "Prenzlauer Berg" -> "Pankow", "Pankow" -> "Pankow", "Neukoelln" -> "Neukoelln",
    "Schoeneberg" -> "Tempelhof-Schoeneberg", "Tempelhof" -> "Tempelhof-Schoeneberg",
    "Charlottenburg" -> "Charlottenburg-Wilm.", "Wilmersdorf" -> "Charlottenburg-Wilm.",
    "Lichtenberg" -> "Lichtenberg", "Spandau" -> "Spandau", "Steglitz" -> "Steglitz-Zehlendorf",
    "Koepenick" -> "Treptow-Koepenick")
  val Rooms = IndexedSeq("Entire home/apt", "Private room", "Shared room", "Hotel room")
  val Props = IndexedSeq("Entire rental unit", "Private room in rental unit", "Entire condo",
    "Entire loft", "Room in hotel", "Entire townhouse")
  val Adjs = IndexedSeq("Cozy", "Sunny", "Quiet", "Modern", "Bright", "Spacious", "Charming", "Central")
  val Nouns = IndexedSeq("loft", "studio", "flat", "room", "apartment", "house")
  val Firsts = IndexedSeq("Anna", "Ben", "Chen", "Dana", "Emil", "Fatma", "Georg", "Hana",
    "Ivan", "Jule", "Kemal", "Lea", "Mats", "Nora", "Omar", "Pia")
  val Words = IndexedSeq("great", "host", "clean", "stay", "location", "quiet", "nice",
    "would", "again", "recommend", "close", "station", "comfortable", "bed", "kitchen")

  /** A listing name; some carry the comma and quote hazards of real data. */
  def listingName(r: SplittableRandom): String = {
    val base = s"${pick(r, Adjs)} ${pick(r, Nouns)} in ${pick(r, Hoods)._1}"
    r.nextInt(20) match {
      case 0 => base + ", near the park"
      case 1 => base + " \"top\" view"
      case _ => base
    }
  }
}

/** Bronze Inside-Airbnb-shaped CSVs for `medallion_full`: two scrapes of
  * `listings` (day 0 and day 1, so the load bootstraps and then merges the
  * SCD2 dims), a `calendar` of `days` nights per day-1 listing, and
  * `reviews` — with the dirty values real scrapes carry: `$1,234.56`
  * prices, t/f/true/F/empty flags, negative counts, duplicate rows, null
  * keys, null lat/long pairs, null calendar dates, quoted names and
  * multi-line review comments. Each table is split over `parts` files.
  */
object AirbnbBronze {
  import Gen._

  val Scrape0 = "2024-03-01"
  val Scrape1 = "2024-04-01"

  final case class Host(id: Long, name: String, since: String, superhost: String,
      count: Int, hood: String)
  final case class Listing(id: Long, host: Int, name: String, hood: Int, lat: String,
      lon: String, prop: String, room: String, acc: Int, bedrooms: String, beds: String,
      priceCents: Long, minN: Int, maxN: Int, a30: Int, a365: Int, reviews: Int,
      rpm: String, rating: String, instant: String)

  val ListingHeader = Seq("id", "name", "host_id", "host_name", "host_since",
    "host_is_superhost", "host_listings_count", "host_neighbourhood",
    "neighbourhood_cleansed", "neighbourhood_group_cleansed", "latitude", "longitude",
    "property_type", "room_type", "accommodates", "bedrooms", "beds", "price",
    "minimum_nights", "maximum_nights", "availability_30", "availability_365",
    "number_of_reviews", "reviews_per_month", "review_scores_rating", "instant_bookable",
    "last_scraped")
  val CalendarHeader = Seq("listing_id", "date", "available", "price", "adjusted_price",
    "minimum_nights", "maximum_nights")
  val ReviewHeader = Seq("listing_id", "id", "date", "reviewer_id", "reviewer_name", "comments")

  private def flag(r: SplittableRandom, b: Boolean): String = r.nextInt(100) match {
    case x if x < 3 => null
    case x if x < 6 => if (b) "true" else "F"
    case _ => if (b) "t" else "f"
  }

  private def newHost(r: SplittableRandom, i: Int): Host =
    Host(1000L + 7L * i, s"${pick(r, Firsts)}${if (r.nextInt(10) == 0) " & Co" else ""}",
      day(epochDay("2012-01-01") + r.nextInt(4000)), flag(r, r.nextInt(4) == 0),
      1 + r.nextInt(5), if (r.nextInt(15) == 0) null else pick(r, Hoods)._1)

  private def newListing(r: SplittableRandom, id: Long, host: Int): Listing = {
    val hood = r.nextInt(Hoods.size)
    val noCoords = chance(r, 2.0)
    val lat = if (noCoords) null else coord(52.35 + r.nextDouble() * 0.3)
    val lon = if (noCoords) null else coord(13.10 + r.nextDouble() * 0.6)
    val reviews = r.nextInt(300) - (if (chance(r, 1.0)) 310 else 0)
    Listing(id, host, listingName(r), hood, lat, lon, pick(r, Props), pick(r, Rooms),
      1 + r.nextInt(8), if (r.nextInt(20) == 0) null else (1 + r.nextInt(4)).toString,
      if (r.nextInt(20) == 0) null else (1 + r.nextInt(6)).toString,
      2500L + r.nextInt(150000), 1 + r.nextInt(40), 30 + r.nextInt(1100),
      r.nextInt(31) - (if (chance(r, 1.0)) 40 else 0), r.nextInt(366), reviews,
      if (reviews <= 0) null else dec2(1 + r.nextInt(900)),
      if (r.nextInt(8) == 0) null else String.format(Locale.ROOT, "%.2f", Double.box(3.0 + r.nextDouble() * 2.0)),
      flag(r, r.nextBoolean()))
  }

  private def listingRow(l: Listing, h: Host, scraped: String, idOverride: Option[String] = None,
      hostOverride: Option[String] = None): Seq[String] = Seq(
    idOverride.getOrElse(l.id.toString), l.name, hostOverride.getOrElse(h.id.toString), h.name,
    h.since, h.superhost, h.count.toString, h.hood, Hoods(l.hood)._1, Hoods(l.hood)._2,
    l.lat, l.lon, l.prop, l.room, l.acc.toString, l.bedrooms, l.beds, money(l.priceCents),
    l.minN.toString, l.maxN.toString, l.a30.toString, l.a365.toString, l.reviews.toString,
    l.rpm, l.rating, l.instant, scraped)

  def generate(dir: File, seed: Long, nListings: Int, days: Int, parts: Int): GenInfo = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 11)
    val nHosts = math.max(1, nListings / 3)
    val hosts0 = (0 until nHosts).map(i => newHost(r, i))
    val listings0 = (0 until nListings).map(i => newListing(r, 100000L + 13L * i, r.nextInt(nHosts)))
    // day 1: hosts and listings change, some listings go, some are new
    val hosts1 = hosts0.map { h =>
      if (!chance(r, 5.0)) h
      else h.copy(superhost = flag(r, r.nextInt(3) == 0), count = h.count + 1 + r.nextInt(3))
    }
    val kept = listings0.filterNot(_ => chance(r, 3.0)).map { l =>
      if (!chance(r, 5.0)) l
      else l.copy(priceCents = l.priceCents + 500 + r.nextInt(5000), minN = 1 + r.nextInt(40),
        room = pick(r, Rooms))
    }
    val fresh = (0 until nListings * 4 / 100).map(i =>
      newListing(r, 100000L + 13L * (nListings + i), r.nextInt(nHosts)))
    val listings1 = kept ++ fresh

    var rows = 0L
    def writeParts(table: String, header: Seq[String], data: IndexedSeq[Seq[String]]): Unit = {
      val outs = (0 until parts).map(p => new TextOut(new File(dir, f"$table/part-$p%02d.csv")))
      try {
        outs.foreach(_.csv(header: _*))
        data.zipWithIndex.foreach { case (row, i) => outs(i % parts).csv(row: _*) }
      } finally outs.foreach(_.close())
      rows += data.size
    }

    val lrows = ArrayBuffer[Seq[String]]()
    def addListing(l: Listing, hs: IndexedSeq[Host], scraped: String): Unit = {
      val row = listingRow(l, hs(l.host), scraped)
      lrows += row
      if (chance(r, 1.0)) lrows += row
    }
    listings0.foreach(addListing(_, hosts0, Scrape0))
    listings1.foreach(addListing(_, hosts1, Scrape1))
    (0 until math.max(1, nListings / 200)).foreach { i =>
      val l = pick(r, listings1)
      lrows += listingRow(l, hosts1(l.host), Scrape1, idOverride = Some(null))
      lrows += listingRow(l.copy(id = 900000000L + i), hosts1(l.host), Scrape1,
        hostOverride = Some(null))
    }
    writeParts("listings", ListingHeader, lrows.toIndexedSeq)

    val start = epochDay(Scrape1)
    val crows = ArrayBuffer[Seq[String]]()
    listings1.foreach { l =>
      (0 until days).foreach { d =>
        val avail = r.nextInt(100) match {
          case x if x < 2 => null
          case x if x < 4 => "x"
          case x if x < 55 => "t"
          case _ => "f"
        }
        val price = if (chance(r, 2.0)) null else money(l.priceCents + 100L * r.nextInt(20))
        val adj = if (r.nextInt(10) < 7) null else money(l.priceCents - 100L * r.nextInt(10))
        val row = Seq(l.id.toString, if (chance(r, 0.3)) null else day(start + d), avail,
          price, adj, l.minN.toString, l.maxN.toString)
        crows += row
        if (chance(r, 0.5)) crows += row
      }
    }
    writeParts("calendar", CalendarHeader, crows.toIndexedSeq)

    val rrows = ArrayBuffer[Seq[String]]()
    var reviewId = 1L
    listings1.foreach { l =>
      (0 until math.min(math.max(l.reviews, 0), 1 + r.nextInt(8))).foreach { _ =>
        val words = (0 until 4 + r.nextInt(10)).map(_ => pick(r, Words))
        val text = r.nextInt(50) match {
          case 0 => words.take(3).mkString(" ") + "\n" + words.drop(3).mkString(" ")
          case 1 => words.mkString(" ") + ", \"really\" " + pick(r, Words)
          case _ => words.mkString(" ")
        }
        rrows += Seq(l.id.toString, reviewId.toString, day(start - r.nextInt(700)),
          (5000000L + r.nextInt(2000000)).toString, pick(r, Firsts), text)
        reviewId += 1
      }
    }
    writeParts("reviews", ReviewHeader, rrows.toIndexedSeq)
    info(dir, rows)
  }
}

/** Seeded daily SCD2 feeds for `scd2_daily`: a base state (day 0), then per
  * day a changes-only host feed (changed + new hosts), a full listing
  * snapshot (changed, new and deleted listings) and that day's calendar
  * slice. Typed (silver) CSVs. Feed `d` depends only on (seed, d), so any
  * number of days replays identically.
  */
final class DailyFeeds(seed: Long, nListings: Int) {
  import Gen._

  final case class Host(id: Long, name: String, superhost: Boolean, count: Int, hood: String)
  final case class Listing(id: Long, hostId: Long, name: String, room: String, acc: Int,
      priceCents: Long, minN: Int, instant: Boolean)

  val BaseDay: Long = epochDay("2024-05-01")
  val HostHeader = Seq("host_id", "host_name", "host_is_superhost", "host_listings_count",
    "host_neighbourhood")
  val ListingHeader = Seq("listing_id", "host_id", "name", "room_type", "accommodates",
    "price", "minimum_nights", "instant_bookable")
  val CalendarHeader = Seq("listing_id", "date", "available", "price")

  private val r0 = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 29)
  private val hosts = mutable.LinkedHashMap[Long, Host]()
  private val listings = mutable.LinkedHashMap[Long, Listing]()
  private var nextHost = 0
  private var nextListing = 0
  private var generated = 0

  private def newHost(r: SplittableRandom): Host = {
    nextHost += 1
    Host(2000L + 7L * nextHost, pick(r, Firsts), r.nextInt(4) == 0, 1 + r.nextInt(4),
      pick(r, Hoods)._1)
  }
  private def newListing(r: SplittableRandom, hostId: Long): Listing = {
    nextListing += 1
    Listing(500000L + 13L * nextListing, hostId, listingName(r), pick(r, Rooms),
      1 + r.nextInt(8), 2500L + r.nextInt(150000), 1 + r.nextInt(40), r.nextBoolean())
  }

  (0 until math.max(1, nListings / 3)).foreach { _ => val h = newHost(r0); hosts(h.id) = h }
  private val hostIds = hosts.keys.toIndexedSeq
  (0 until nListings).foreach { _ =>
    val l = newListing(r0, pick(r0, hostIds)); listings(l.id) = l
  }

  private def hostRow(h: Host) = Seq(h.id.toString, h.name, h.superhost.toString,
    h.count.toString, h.hood)
  private def listingRow(l: Listing) = Seq(l.id.toString, l.hostId.toString, l.name, l.room,
    l.acc.toString, dec2(l.priceCents), l.minN.toString, l.instant.toString)

  private def write(f: File, header: Seq[String], rows: Iterable[Seq[String]]): Long = {
    val out = new TextOut(f)
    try { out.csv(header: _*); rows.foreach(x => out.csv(x: _*)) } finally out.close()
    rows.size.toLong
  }

  /** The base state (day 0) as full host and listing snapshots. */
  def writeBase(dir: File): Long =
    write(new File(dir, "hosts.csv"), HostHeader, hosts.values.map(hostRow)) +
      write(new File(dir, "listings.csv"), ListingHeader, listings.values.map(listingRow))

  /** The calendar slice of one date for every live listing. */
  def writeCalendar(f: File, date: Long, r: SplittableRandom): Long =
    write(f, CalendarHeader, listings.values.map(l => Seq(l.id.toString, day(date),
      (r.nextInt(100) < 55).toString, dec2(l.priceCents + 100L * r.nextInt(20)))))

  /** Day `d`'s feeds (d = 1, 2, ... in order): the state advances by one
    * day of changes, and the three feed files land under `dir`.
    */
  def writeDay(d: Int, dir: File): Long = {
    require(d == generated + 1, s"feeds are generated in day order (next ${generated + 1}, got $d)")
    generated = d
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1000003L * d)
    val ids = hosts.keys.toIndexedSeq
    val changedHosts = mutable.LinkedHashMap[Long, Host]()
    ids.foreach { id =>
      if (chance(r, 2.0)) {
        val h = hosts(id)
        val c = h.copy(superhost = !h.superhost, count = h.count + 1)
        hosts(id) = c; changedHosts(id) = c
      }
    }
    (0 until math.max(1, hosts.size / 200)).foreach { _ =>
      val h = newHost(r); hosts(h.id) = h; changedHosts(h.id) = h
    }
    val hostPool = hosts.keys.toIndexedSeq
    listings.keys.toIndexedSeq.foreach { id =>
      if (chance(r, 0.5)) listings.remove(id)
      else if (chance(r, 3.0)) {
        val l = listings(id)
        listings(id) = l.copy(priceCents = l.priceCents + 100 + r.nextInt(3000),
          minN = 1 + r.nextInt(40))
      }
    }
    (0 until math.max(1, nListings / 100)).foreach { _ =>
      val l = newListing(r, pick(r, hostPool)); listings(l.id) = l
    }
    write(new File(dir, "hosts.csv"), HostHeader, changedHosts.values.map(hostRow)) +
      write(new File(dir, "listings.csv"), ListingHeader, listings.values.map(listingRow)) +
      writeCalendar(new File(dir, "calendar.csv"), BaseDay + d, r)
  }
}

/** A document corpus with planted near-duplicate clusters: each cluster is
  * a seed document plus 1-3 copies with one token substituted (pairwise
  * 3-shingle Jaccard >= 0.85), plus half-copies (Jaccard ~0.33) that must
  * survive, plus unrelated documents. Ids are a seeded permutation, so the
  * truth is: every cluster member except the lowest id is a duplicate.
  */
object Corpus {
  final case class Truth(duplicates: Set[Long], docs: Long)

  def generate(file: File, seed: Long, nDocs: Int, docLen: Int): (GenInfo, Truth) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 47)
    val vocab = 30000
    def word(i: Int) = "w" + Integer.toString(i, 36)
    def doc() = Array.fill(docLen)(word(r.nextInt(vocab)))
    val docs = ArrayBuffer[Array[String]]()
    val clusters = ArrayBuffer[Seq[Int]]()
    while (docs.size < nDocs) {
      val base = doc()
      val at = docs.size
      docs += base
      r.nextInt(100) match {
        case x if x < 15 =>
          val n = 1 + r.nextInt(3)
          (0 until n).foreach { _ =>
            val c = base.clone(); c(r.nextInt(docLen)) = word(r.nextInt(vocab)); docs += c
          }
          clusters += (at to at + n)
        case x if x < 20 =>
          val c = base.clone()
          (docLen / 2 until docLen).foreach(i => c(i) = word(r.nextInt(vocab)))
          docs += c
        case _ =>
      }
    }
    val n = docs.size
    val ids = (1L to n.toLong).toArray
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val out = new TextOut(file)
    try docs.indices.foreach { i =>
      out.line(s"""{"doc_id":${ids(i)},"text":"${docs(i).mkString(" ")}","source":"s${i % 7}"}""")
    } finally out.close()
    val dups = clusters.flatMap { c => val m = c.map(ids); m.filterNot(_ == m.min) }.toSet
    (GenInfo(n.toLong, file.length), Truth(dups, n.toLong))
  }
}

/** Clustered 64-dim embeddings (the width IVF-PQ quantizes): `clusters`
  * Gaussian blobs around uniform centres, 5-decimal floats.
  */
object Vectors {
  def generate(file: File, seed: Long, n: Int, clusters: Int, dim: Int): GenInfo = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 83)
    val centres = Array.fill(clusters, dim)(r.nextDouble() * 2 - 1)
    val out = new TextOut(file)
    try (1 to n).foreach { id =>
      val c = centres(r.nextInt(clusters))
      val v = c.map(x => String.format(Locale.ROOT, "%.5f", Double.box(x + r.nextGaussian() * 0.25)))
      out.line(s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""")
    } finally out.close()
    GenInfo(n.toLong, file.length)
  }
}
