package perfbench

import java.util.SplittableRandom

import graft.queries.Det

/** One request of a client's stream: a registered query (checked against
  * its `SparkEntry.oracleSql` twin), a seeded-parameter SQL text (run by
  * Spark and DuckDB verbatim), or one run of the ingest pipeline. */
final case class Req(key: String, kind: Req.Kind, sql: String,
    tables: Seq[String])

object Req {
  sealed trait Kind
  case object Query extends Kind
  case object Sql extends Kind
  case object Ingest extends Kind
}

/** A slot of the request mix. A template slot draws its parameter
  * Zipf-style from a bounded domain, so part of the requests repeat. */
sealed trait Slot
final case class QuerySlot(name: String, tables: Seq[String]) extends Slot
final case class TemplateSlot(id: String, tables: Seq[String], domain: Int,
    sql: Int => String) extends Slot
case object IngestSlot extends Slot

final case class Workload(
    name: String,
    clients: Int,
    tailPct: Double,
    /** The mix; its argument is the inputs' key shift. */
    slots: Long => Seq[Slot])

object Workloads {
  private val L = "lineitem"
  private val O = "orders"
  private val C = "customer"
  private val E = "events"

  /** Warm-up rounds of each kind of request before the window opens, for
    * every workload. On `dashboard` (4 clients, 4 vCPUs) a kind's first
    * run takes 1.5-5x its steady latency, the second still about 1.3x,
    * and by the fifth most kinds are within the run-to-run noise of their
    * median in the measured window; `run.json` keeps the curve
    * (`setup.warmup_ms_by_kind`). q01 alone falls from 1.07 s to 0.40 s
    * over its first five runs. */
  val warmupRounds = 5

  /** Zipf exponent and rank bound of the template parameters: together
    * with three template slots per template in each cycle they set the
    * share of requests that repeat an earlier one, which `run.json`
    * reports as `stream.repeat_share`. */
  private val zipfS = 1.1
  private val zipfRanks = 40

  /** Seeded-parameter SQL in the dialect Spark and DuckDB share; money is
    * summed through the engine's exact-decimal helpers so both engines
    * return identical doubles. */
  private def templates(k: Long): Seq[TemplateSlot] = Seq(
    TemplateSlot("ship_since", Seq(L), 78, v => {
      val (y, m) = (1995 + v / 12, 1 + v % 12)
      f"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem WHERE l_shipdate >= TIMESTAMP '$y%04d-$m%02d-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin
    }),
    // the fixture's customer keys are 0..1499 and its users 0..149,
    // before the seed's shift
    TemplateSlot("cust_orders", Seq(O), 1500, v =>
      s"""SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS max_total
         |FROM orders WHERE o_custkey = ${k + v}
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    TemplateSlot("user_events", Seq(E), 150, v =>
      s"""SELECT event_type, count(*) AS n, ${Det.dsumSql("value")} AS total
         |FROM events WHERE user_id = ${k + v}
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
    TemplateSlot("nation_segments", Seq(C), 25, v =>
      s"""SELECT c_mktsegment, count(*) AS n, min(c_acctbal) AS min_bal,
         |  max(c_acctbal) AS max_bal
         |FROM customer WHERE c_nationkey = $v
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    TemplateSlot("size_brands", Seq(L, "part"), 50, v =>
      s"""SELECT p_brand, count(*) AS n, ${Det.dsumSql("l_quantity")} AS qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size = ${v + 1}
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  private val dashboardQueries = Seq(
    QuerySlot("q01_agg_by_type", Seq(L)),
    QuerySlot("q02_rollup_month", Seq(O)),
    QuerySlot("q03_yoy_window", Seq(L)),
    QuerySlot("q04_topn_percentiles", Seq(O)),
    QuerySlot("q04b_topn_percentiles_approx", Seq(O)),
    QuerySlot("q04c_topn_percentiles_tdigest", Seq(O)),
    QuerySlot("q05_median_by_year", Seq(L)),
    QuerySlot("q06_recent_top100", Seq(O)),
    QuerySlot("q07_between_rollup", Seq(L)),
    QuerySlot("q08_having_top50", Seq(L)),
    QuerySlot("q09_profile_volume", Seq(E)),
    QuerySlot("q10_cardinality_exact", Seq(E)),
    QuerySlot("q11_dim_join", Seq(C, "nation", "region")),
    QuerySlot("q12_fact_join", Seq(L, O)),
    QuerySlot("q13_union_counts", Seq(L, O, C)),
    QuerySlot("q14_scan_project", Seq(L)),
    QuerySlot("q37_sql_entry", Seq(L)))

  /** `dashboard`: short interactive requests, half of them template SQL,
    * from four concurrent clients over the sf0.01 fixture — per-request
    * fixed cost (building, planning, scheduling) dominates, and q04b/q04c
    * persist through `Caches`. `ingest`: the only write path, over two
    * copies of the fixture's events, so a change that speeds reads but
    * slows writes shows. The tail percentile leaves at least ten samples
    * beyond it on `dashboard`; `ingest` completes too few runs in a window
    * for that. */
  val all: Seq[Workload] = Seq(
    Workload("dashboard", clients = 4, tailPct = 84,
      k => dashboardQueries ++ templates(k).flatMap(t => Seq(t, t, t))),
    Workload("ingest", clients = 1, tailPct = 75,
      _ => Seq(IngestSlot)))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** The request stream, cut into cycles that each issue every slot of
    * the mix once, in a fresh seeded order; template parameters come from
    * a per-seed permutation of their domain, so popular values repeat.
    * `salt` gives an independent stream of the same seed (the warm-up). */
  def cycles(w: Workload, seed: Long, keyShift: Long,
      salt: Int = 0): Iterator[Seq[Req]] = {
    val slots = w.slots(keyShift)
    val rnd = new SplittableRandom(seed * 1000003L + salt)
    val perms = slots.collect { case t: TemplateSlot => t }.distinct
      .map(t => t.id -> shuffled(0 until t.domain,
        new SplittableRandom(seed ^ t.id.hashCode.toLong))).toMap
    Iterator.continually(shuffled(slots, rnd).map {
      case QuerySlot(n, ts) => Req(n, Req.Query, "", ts)
      case t: TemplateSlot =>
        val v = perms(t.id)(zipfRank(rnd, math.min(zipfRanks, t.domain)))
        Req(s"${t.id}($v)", Req.Sql, t.sql(v), t.tables)
      case IngestSlot => Req("ingest_pipeline", Req.Ingest, "", Seq(E))
    })
  }

  /** `n` rounds of `reqs`, each in its own seeded order. */
  def shuffledRounds(reqs: Seq[Req], n: Int, seed: Long): Seq[Seq[Req]] = {
    val rnd = new SplittableRandom(seed * 1000003L + 2)
    Seq.fill(n)(shuffled(reqs, rnd))
  }

  private def shuffled[T](xs: Seq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def zipfRank(rnd: SplittableRandom, n: Int): Int = {
    val weights = (1 to n).map(k => 1.0 / math.pow(k, zipfS))
    var u = rnd.nextDouble() * weights.sum
    var k = 0
    while (k < n - 1 && u >= weights(k)) { u -= weights(k); k += 1 }
    k
  }
}
