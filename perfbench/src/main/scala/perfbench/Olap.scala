package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Catalog

/** `olap_fixture`: passes over the headline catalog queries
  * (`Catalog.all.filter(_.bench)`), each written to the `noop` sink, by
  * one closed-loop client per core. A single client left three cores
  * idle (task CPU was a tenth of the pass), and its pass time swung with
  * the host's CPU steal far more than the same work on all cores did.
  *
  * Every execution carries an order-insensitive content fingerprint of
  * its output — row count, sum and xor of a per-row hash — observed in the
  * same job, and checked against the stored values in
  * `expected/olap_fixture.tsv`. Every pass runs the queries in catalog
  * order: a pass's cost depends on the order (a seeded shuffle moved it
  * by 40% between seeds), so the inputs of this workload are fixed. */
object Olap {

  def run(r: Run): Unit = {
    val spark = r.spark
    val names = Catalog.all.filter(_.bench).map(_.name)
    val expected = if (r.opts.record) Map.empty[String, Fingerprint]
      else Fingerprint.load(r.opts.expected)
    if (!r.opts.record)
      r.check("olap.expected_covers_queries",
        names.forall(expected.contains),
        s"no stored fingerprint for ${names.filterNot(expected.contains)}")

    def execute(name: String): Fingerprint = {
      val df = r.phase("resolve")(
        Catalog.byName(name).run(spark, r.opts.data))
      val obs = Observation()
      r.phase("exec") {
        val h = xxhash64(df.schema.fields.map(f => canon(col(f.name), f.dataType))
          .toIndexedSeq: _*)
        df.observe(obs, count(lit(1)).as("n"),
          sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
          .write.format("noop").mode("overwrite").save()
      }
      r.phase("check") {
        val m = obs.get
        def long(k: String): Long =
          Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
        val got = Fingerprint(long("n"), long("s"), long("x"))
        expected.get(name).foreach { want =>
          if (want != got)
            throw new WrongOutput(s"$name: got $got, expected $want")
        }
        got
      }
    }

    /** One pass: the queries, in catalog order, taken by one client
      * thread per core as each finishes its previous one. */
    def clients(i: Int): Seq[(String, Either[String, Fingerprint])] = {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](names.asJava)
      val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[String, Fingerprint])]()
      val parent = r.currentSpan
      val threads = (1 to r.opts.cores).map(_ => new Thread(() => r.under(parent) {
        var n = queue.poll()
        while (n != null) {
          done.add(n -> r.op("query", n, i, timed = i > 0)(execute(n)))
          n = queue.poll()
        }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      done.asScala.toSeq
    }

    // warm-up: two untimed passes (codegen, class loading, JIT); after
    // one, the first timed pass still ran about 10% slower than the next
    val warm = clients(0) ++ clients(0)
    r.check("olap.warmup", warm.forall(_._2.isRight),
      warm.collect { case (n, Left(e)) => s"$n: $e" }.mkString("; "))
    if (r.opts.record)
      Fingerprint.save(r.opts.expected, warm.collect { case (n, Right(f)) => n -> f }.distinct)
    r.mark("warmed")

    // timed passes: the first always, another only if it should end
    // within --seconds of the first. A traced run makes three and traces
    // the middle one; the other two give the untraced time beside it.
    var i = 1
    var last = 0.0
    while (i == 1 || (r.opts.trace && i <= 3) || (!r.opts.trace &&
        r.now - r.firstOpMs + last <= r.opts.seconds * 1000.0)) {
      r.setTracing(r.opts.trace && i == 2)
      val t0 = r.now
      r.pass(i)(clients(i).map(_._2.isRight))
      last = r.now - t0
      i += 1
    }
    r.setTracing(r.opts.trace)
    r.extra("pass_layers") = r.passLayers(1 until i)
  }

  /** Canonical hashing form: floating-point values rounded to 6 decimals
    * (the last bits of a double sum depend on merge order), maps as JSON. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }
}

final case class Fingerprint(rows: Long, hashSum: Long, hashXor: Long)

object Fingerprint {
  def load(path: String): Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map {
      l =>
        val Array(n, rows, s, x) = l.split("\t")
        n -> Fingerprint(rows.toLong, s.toLong, x.toLong)
    }.toMap
    finally src.close()
  }

  def save(path: String, fs: Seq[(String, Fingerprint)]): Unit =
    Run.writeFile(new java.io.File(path),
      ("# query\trows\thash_sum\thash_xor" +: fs.sortBy(_._1).map {
        case (n, f) => s"$n\t${f.rows}\t${f.hashSum}\t${f.hashXor}"
      }).mkString("", "\n", "\n"))
}
