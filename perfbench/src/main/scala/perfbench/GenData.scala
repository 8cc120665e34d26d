package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes the benchmark's inputs as single-file, single-row-group parquet
  * with the parquet library Spark ships, so making them needs nothing but
  * the JVM.
  * {{{
  * perfbench.GenData tables <out_dir> [scale]
  * perfbench.GenData stream <out_dir> <seed>
  * }}}
  * `tables`: the engine's ten-table star schema plus `events`, shaped like
  * the sf0.1 data `graft.Bench` reads (row counts, key ranges, vocabularies,
  * value distributions and parquet physical types). The tables are a pure
  * function of [[DataSeed]], so the golden fingerprints in
  * perfbench/golden.tsv hold on any machine. The run's seed does not change
  * them; it permutes the sweep's query order.
  *
  * `stream`: cube_maintain's two change streams, cut from the sf0.1
  * `events` rows and drawn from the run's seed. */
object GenData {
  val DataSeed = 42L
  private val Words = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(' ')
  private val Types = Array("click", "error", "purchase", "signup", "view")
  private val DayUs = 86400L * 1000000L

  def main(a: Array[String]): Unit = a.toSeq match {
    case Seq("tables", out) => tables(Paths.get(out), 0.1)
    case Seq("tables", out, scale) => tables(Paths.get(out), scale.toDouble)
    case Seq("stream", out, seed) => stream(Paths.get(out), seed.toLong)
    case _ => sys.error("usage: GenData tables <out_dir> [scale] | " +
      "GenData stream <out_dir> <seed>")
  }

  /** Epoch microseconds of midnight UTC on an ISO date. */
  private def dayUs(iso: String): Long =
    java.time.LocalDate.parse(iso).toEpochDay * DayUs

  private def money(x: Double): Double = math.rint(x * 100) / 100

  /** One table's writer: a parquet schema and a row filler. */
  private def write(file: Path, schema: String, n: Int)(fill: (Group, Int) => Unit): Unit = {
    Files.createDirectories(file.getParent)
    val tpe = MessageTypeParser.parseMessageType(s"message t { $schema }")
    val groups = new SimpleGroupFactory(tpe)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(tpe).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try (0 until n).foreach { i =>
      val g = groups.newGroup()
      fill(g, i)
      w.write(g)
    } finally w.close()
  }

  private def rng(table: Int) = new SplittableRandom(DataSeed * 1000 + table)

  def tables(out: Path, scale: Double): Unit = {
    Files.createDirectories(out)
    def t(name: String) = out.resolve(s"$name.parquet")

    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(t("region"), "optional int32 r_regionkey; optional binary r_name (STRING);",
      5) { (g, i) => g.append("r_regionkey", i).append("r_name", regions(i)) }
    write(t("nation"), "optional int32 n_nationkey; optional binary n_name (STRING); " +
      "optional int32 n_regionkey;", 25) { (g, i) =>
      g.append("n_nationkey", i).append("n_name", s"NATION_$i")
        .append("n_regionkey", i % 5)
    }

    val nSupp = (10000 * scale).toInt
    val rs = rng(1)
    write(t("supplier"), "optional int64 s_suppkey; optional binary s_name (STRING); " +
      "optional int32 s_nationkey; optional double s_acctbal;", nSupp) { (g, i) =>
      g.append("s_suppkey", i.toLong).append("s_name", f"Supplier#$i%09d")
        .append("s_nationkey", rs.nextInt(25))
        .append("s_acctbal", money(rs.nextDouble(-999.99, 9999.99)))
    }

    val nCust = (150000 * scale).toInt
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(2)
    write(t("customer"), "optional int64 c_custkey; optional binary c_name (STRING); " +
      "optional int32 c_nationkey; optional double c_acctbal; " +
      "optional binary c_mktsegment (STRING);", nCust) { (g, i) =>
      g.append("c_custkey", i.toLong).append("c_name", f"Customer#$i%09d")
        .append("c_nationkey", rc.nextInt(25))
        .append("c_acctbal", money(rc.nextDouble(-999.99, 9999.99)))
        .append("c_mktsegment", segments(rc.nextInt(5)))
    }

    val nPart = (200000 * scale).toInt
    val names = for (a <- Seq("blue", "cold", "hot", "large", "new", "old", "red", "small");
      n <- Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
      yield s"$a $n"
    val ptypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(3)
    write(t("part"), "optional int64 p_partkey; optional binary p_name (STRING); " +
      "optional binary p_brand (STRING); optional binary p_type (STRING); " +
      "optional int32 p_size; optional double p_retailprice;", nPart) { (g, i) =>
      g.append("p_partkey", i.toLong).append("p_name", names(rp.nextInt(names.size)))
        .append("p_brand", s"Brand#${rp.nextInt(1, 26)}")
        .append("p_type", ptypes(rp.nextInt(ptypes.length)))
        .append("p_size", rp.nextInt(1, 51))
        .append("p_retailprice", math.rint((900.0 + (i % 1000) * 0.1) * 10) / 10)
    }

    val nOrd = (1500000 * scale).toInt
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val statuses = Array("F", "O", "P")
    val ro = rng(4)
    val orderBase = dayUs("1995-01-01")
    write(t("orders"), "optional int64 o_orderkey; optional int64 o_custkey; " +
      "optional binary o_orderstatus (STRING); optional double o_totalprice; " +
      "optional int64 o_orderdate (TIMESTAMP(MICROS,false)); " +
      "optional binary o_orderpriority (STRING);", nOrd) { (g, i) =>
      g.append("o_orderkey", i.toLong).append("o_custkey", ro.nextLong(nCust))
        .append("o_orderstatus", statuses(ro.nextInt(3)))
        .append("o_totalprice", money(ro.nextDouble(1000.0, 500000.0)))
        .append("o_orderdate", orderBase + ro.nextInt(2405) * DayUs)
        .append("o_orderpriority", priorities(ro.nextInt(5)))
    }

    val nLi = (6000000 * scale).toInt
    val rl = rng(5)
    val returnFlags = Array("A", "N", "R")
    val shipBase = dayUs("1995-01-02")
    write(t("lineitem"), "optional int64 l_orderkey; optional int64 l_partkey; " +
      "optional int64 l_suppkey; optional int32 l_linenumber; " +
      "optional double l_quantity; optional double l_extendedprice; " +
      "optional double l_discount; optional double l_tax; " +
      "optional binary l_returnflag (STRING); optional binary l_linestatus (STRING); " +
      "optional int64 l_shipdate (TIMESTAMP(MICROS,false));", nLi) { (g, _) =>
      g.append("l_orderkey", rl.nextLong(nOrd)).append("l_partkey", rl.nextLong(nPart))
        .append("l_suppkey", rl.nextLong(nSupp)).append("l_linenumber", rl.nextInt(1, 8))
        .append("l_quantity", rl.nextInt(1, 51).toDouble)
        .append("l_extendedprice", money(rl.nextDouble(900.0, 105000.0)))
        .append("l_discount", rl.nextInt(0, 11) / 100.0)
        .append("l_tax", rl.nextInt(0, 9) / 100.0)
        .append("l_returnflag", returnFlags(rl.nextInt(3)))
        .append("l_linestatus", if (rl.nextBoolean()) "F" else "O")
        .append("l_shipdate", shipBase + rl.nextInt(2499) * DayUs)
    }

    val ev = events(scale)
    write(t("events"), "optional int64 event_id; " +
      "optional int64 ts (TIMESTAMP(MICROS,false)); optional int64 user_id; " +
      "optional binary event_type (STRING); optional double value; " +
      "optional binary props (STRING);", ev.size) { (g, i) =>
      val e = ev(i)
      g.append("event_id", e.id).append("ts", e.ts).append("user_id", e.user)
        .append("event_type", e.etype).append("value", e.value)
        .append("props", s"""{"k": ${e.prop}}""")
    }

    // Near-duplicates: 5% of documents copy another one and append a marker.
    val nDocs = 5000
    val rd = rng(6)
    val texts = Array.fill(nDocs)(
      Seq.fill(rd.nextInt(10, 100))(Words(rd.nextInt(Words.length))).mkString(" "))
    sample(rd, (0 until nDocs).toArray, nDocs / 20).foreach(i =>
      texts(i) = texts(rd.nextInt(nDocs)) + " dup")
    val langs = Array("de", "en", "es", "fr", "zh")
    val langCdf = Array(0.14, 0.55, 0.70, 0.85, 1.0)
    write(t("documents"), "optional int64 doc_id; optional binary text (STRING); " +
      "optional binary lang (STRING); optional binary source (STRING); " +
      "optional int64 n_chars;", nDocs) { (g, i) =>
      val u = rd.nextDouble()
      g.append("doc_id", i.toLong).append("text", texts(i))
        .append("lang", langs(langCdf.indexWhere(u < _)))
        .append("source", s"src${i % 20}")
        .append("n_chars", texts(i).length.toLong)
    }

    val (nVec, dim) = (2000, 64)
    val rv = rng(7)
    write(t("embeddings"), "optional int64 vec_id; optional group embedding (LIST) " +
      "{ repeated group list { optional float element; } } optional int32 label;",
      nVec) { (g, i) =>
      val v = Array.fill(dim)(rv.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      g.append("vec_id", i.toLong)
      val list = g.addGroup("embedding")
      v.foreach(x => list.addGroup("list").append("element", (x / norm).toFloat))
      g.append("label", rv.nextInt(10))
    }
  }

  /** An `events` row; `ts` is epoch microseconds. */
  final case class Ev(id: Long, ts: Long, user: Long, etype: String,
      value: Double, prop: Int)

  /** `events` rows in time order: exponential inter-arrival gaps (mean
    * ~26 s), uniform users and types, exponential values (mean 50), one
    * small JSON prop. */
  def events(scale: Double): IndexedSeq[Ev] = {
    val r = rng(8)
    val n = (1000000 * scale).toInt
    val nUsers = (15000 * scale).toLong
    var ts = dayUs("2024-01-01")
    (0 until n).map { i =>
      ts += (r.nextExponential() * 25.9e6).toLong
      Ev(i.toLong, ts, r.nextLong(nUsers), Types(r.nextInt(Types.length)),
        money(r.nextExponential() * 50.0), r.nextInt(100))
    }
  }

  /** `k` distinct elements of `xs`, drawn uniformly. */
  private def sample(r: SplittableRandom, xs: Array[Int], k: Int): Array[Int] = {
    require(k <= xs.length, s"cannot draw $k of ${xs.length}")
    val a = xs.clone()
    (0 until k).foreach { i =>
      val j = r.nextInt(i, a.length)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k)
  }

  // cube_maintain: each cube's stream replays a run of consecutive `events`
  // rows in time order, as a change stream delivers them, from a Monday the
  // seed picks. The first
  // BaseRows (about six days) are the base slice the cube is created from;
  // each of Batches signed batches then brings the next Inserts events
  // (about an hour), Deletes removed rows and Updates changed ones (an
  // update is the old row with _sign -1 and the new row with _sign +1). The
  // delete and update rates have no source in the repository; they are
  // assumptions. A batch's deletes and updates have one of two shapes:
  //   recent: late corrections to rows of the last day before the batch's
  //           newest event, so a batch touches one or two day cells;
  //   spread: retroactive corrections drawn from every live row, so a batch
  //           touches every day cell (a cube whose fold recomputes touched
  //           cells from the source recomputes nearly all of them).
  // Cube mA's batches are all recent; mB's alternate recent and spread.
  val BaseRows = 20000
  val Inserts = 150
  val Deletes = 40
  val Updates = 30
  val Batches = 24
  val Shapes: Seq[(String, Seq[String])] =
    Seq("mA" -> Seq("recent"), "mB" -> Seq("recent", "spread"))

  private val StreamSchema = "optional int64 event_id; " +
    "optional int64 ts (TIMESTAMP(MICROS,true)); optional int64 user_id; " +
    "optional binary event_type (STRING); optional double value;"

  private def writeRows(dir: Path, rows: IndexedSeq[Ev], sign: IndexedSeq[Int] = null): Unit = {
    val schema = StreamSchema + (if (sign == null) "" else " optional int32 _sign;")
    write(dir.resolve("part-0.parquet"), schema, rows.size) { (g, i) =>
      val e = rows(i)
      g.append("event_id", e.id).append("ts", e.ts).append("user_id", e.user)
        .append("event_type", e.etype).append("value", e.value)
      if (sign != null) g.append("_sign", sign(i))
    }
  }

  private def dayCells(rows: Iterable[Ev]): Int = rows.map(_.ts / DayUs).toSet.size

  /** Writes `<out>/<cube>/{base, delta/bNN, source/bNN, shapes.txt}`: each
    * batch's signed rows, the live rows after it (only for mB, whose fold
    * recomputes touched cells from them), and a line per batch of its
    * shape, the day cells it touches and the day cells live after it.
    * The seed picks the week in `events` each stream starts in and which
    * rows change. */
  def stream(out: Path, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    val ev = events(0.1)
    val need = BaseRows + Batches * Inserts
    // A stream starts at midnight on a Monday the seed picks, so that every
    // seed gives the cubes the same calendar: the base slice (about six
    // days) covers Monday to Saturday: the end of one 7-day retention period
    // (periods count from the epoch, so they start on Thursdays) and the
    // whole of the next.
    val starts = Iterator.iterate(dayUs("2024-01-01"))(_ + 7 * DayUs)
      .takeWhile { t =>
        val i = ev.indexWhere(_.ts >= t)
        i >= 0 && i + need <= ev.size
      }.toIndexedSeq
    Shapes.foreach { case (cube, shapes) =>
      val dir = out.resolve(cube)
      val start = starts(r.nextInt(starts.size))
      val first = ev.indexWhere(_.ts >= start)
      val rows = ev.slice(first, first + need)
      var live: IndexedSeq[Ev] = rows.take(BaseRows)
      writeRows(dir.resolve("base"), live)
      val lines = mutable.ArrayBuffer.empty[String]
      (0 until Batches).foreach { b =>
        val shape = shapes(b % shapes.size)
        val at = BaseRows + b * Inserts
        val ins = rows.slice(at, at + Inserts)
        val newest = ins.map(_.ts).max
        val pool = live.indices.filter(i => shape != "recent" || live(i).ts >= newest - DayUs)
        val victims = sample(r, pool.toArray, Deletes + Updates)
        val fresh = victims.drop(Deletes).toSeq.map(i => live(i).copy(
          etype = Types(r.nextInt(Types.length)),
          value = money(r.nextExponential() * 50.0)))
        val gone = victims.map(live).toSeq
        val delta = ins ++ gone ++ fresh
        val sign = ins.map(_ => 1) ++ gone.map(_ => -1) ++ fresh.map(_ => 1)
        val dead = victims.toSet
        live = live.indices.filterNot(dead).map(live) ++ fresh ++ ins
        writeRows(dir.resolve(f"delta/b$b%02d"), delta, sign)
        if (cube == "mB") writeRows(dir.resolve(f"source/b$b%02d"), live)
        lines += s"$shape\t${dayCells(delta)}\t${dayCells(live)}\n"
      }
      Files.write(dir.resolve("shapes.txt"),
        lines.mkString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
