package graft.queries

import graft.core.{Flow, Fold, JoinKind}
import graft.sources.{Edn, EdnValue, GraftIO}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One registered query per operator in SURVEY.md §2, each with an
  * ANSI-SQL oracle (DuckDB) over the same parquet tables.
  *
  * Determinism discipline (the oracle hash-compares values):
  *  - double aggregations go through exact DECIMAL arithmetic and are cast
  *    back to DOUBLE at the end — order-of-summation independent;
  *  - counts are BIGINT on both sides;
  *  - rankings always carry a unique tie-break key;
  *  - non-deterministic ops (sample) and non-SQL-expressible ops (minhash,
  *    langid) are registered without an oracle → rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    // for a rows-only query (oracle == None): the name of the ORACLED
    // query that gates the same pipeline under a replayable hash family
    // ("fixture twin"). Emitted in Verify's manifest and cross-checked by
    // scripts/selfcheck.py, so twin coverage is machine-checkable.
    twin: Option[String] = None)

/** Oracle-SQL fragments shared across query files. */
private[queries] object OracleSql {
  /** SQL replay of [[graft.core.Flow.lcg31]] — ONE definition so the three
    * sampling oracles can't drift from the Scala arithmetic.
    */
  def lcg31(col: String): String =
    s"(((xor(CAST($col AS BIGINT), CAST($col AS BIGINT) >> 31) & 2147483647)" +
      s" * 1103515245 + 12345) & 2147483647)"
}

object Queries {

  private def q(name: String, oracle: String = null, bench: Boolean = false,
      twin: String = null)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Option(oracle), bench, Option(twin))

  // ==========================================================
  // §2.1/§2.3 map family
  // ==========================================================

  private val loadProject = q("q_load_project",
    "SELECT c_custkey, c_mktsegment FROM customer") { (s, d) =>
    Tables.df(s, d, "customer").select("c_custkey", "c_mktsegment")
  }

  private val filterQ = q("q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_quantity < 5 AND l_returnflag = 'R'""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d))
      .filter(l => l.l_quantity < 5 && l.l_returnflag == "R")
      .map(l => (l.l_orderkey, l.l_linenumber, l.l_quantity))
      .toDF.toDF("l_orderkey", "l_linenumber", "l_quantity")
  }

  private val mapQ = q("q_map",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS revenue
       FROM lineitem""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d))
      .map(l => (l.l_orderkey, l.l_linenumber, l.l_extendedprice * (1 - l.l_discount)))
      .toDF.toDF("l_orderkey", "l_linenumber", "revenue")
  }

  private val mapcatQ = q("q_mapcat",
    """SELECT o_orderkey AS v FROM orders
       UNION ALL SELECT o_custkey AS v FROM orders""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d))
      .mapcat(o => Seq(o.o_orderkey, o.o_custkey))
      .toDF.toDF("v")
  }

  private val removeQ = q("q_remove",
    "SELECT p_partkey, p_size FROM part WHERE NOT (p_size > 25)") { (s, d) =>
    import s.implicits._
    Flow(Tables.part(s, d)).remove(_.p_size > 25)
      .map(p => (p.p_partkey, p.p_size)).toDF.toDF("p_partkey", "p_size")
  }

  private val rankQ = q("q_rank",
    """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS idx,
              o_orderkey
       FROM orders""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d))
      .rankBy(_.o_orderkey)
      .map { case (i, o) => (i, o.o_orderkey) }
      .toDF.toDF("idx", "o_orderkey")
  }

  private val rankTiesQ = q("q_rank_ties",
    """SELECT CAST(rank() OVER (ORDER BY c_nationkey) - 1 AS BIGINT) AS idx, c_custkey
       FROM customer""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d))
      .rankTiesBy(_.c_nationkey)
      .map(p => (p._1, p._2.c_custkey))
      .toDF.toDF("idx", "c_custkey")
  }

  private val rankDenseQ = q("q_rank_dense",
    """SELECT CAST(dense_rank() OVER (ORDER BY c_nationkey) - 1 AS BIGINT) AS idx, c_custkey
       FROM customer""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d))
      .rankTiesBy(_.c_nationkey, dense = true)
      .map(p => (p._1, p._2.c_custkey))
      .toDF.toDF("idx", "c_custkey")
  }

  private val sortQ = q("q_sort",
    "SELECT c_name, c_acctbal FROM customer") { (s, d) =>
    import s.implicits._
    // total sort (range-partitioned); oracle compares as multiset
    Flow(Tables.customer(s, d)).sortBy(_.c_acctbal, asc = false)
      .map(c => (c.c_name, c.c_acctbal)).toDF.toDF("c_name", "c_acctbal")
  }

  private val takeQ = q("q_take",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d))
      .sortBy(o => (-o.o_totalprice, o.o_orderkey))
      .take(100)
      .map(o => (o.o_orderkey, o.o_totalprice)).toDF.toDF("o_orderkey", "o_totalprice")
  }

  private val sampleQ = q("q_sample", twin = "q_sample_hash") { (s, d) => // non-deterministic: rows-only
    import s.implicits._
    Flow(Tables.orders(s, d)).sample(0.1).map(_.o_orderkey).toDF.toDF("o_orderkey")
  }

  private val sampleFixedQ = q("q_sample_fixed",
    // deterministic fixed-size sample (Flow.sampleFixed): lowest-hash 100
    // keys; plans as TakeOrderedAndProject (bounded heaps), no full sort
    s"""SELECT o_orderkey FROM orders
       ORDER BY ${OracleSql.lcg31("o_orderkey")} ASC, o_orderkey ASC
       LIMIT 100""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).sampleFixed(100)(_.o_orderkey)
      .map(_.o_orderkey).toDF.toDF("o_orderkey")
  }

  private val sampleWeightedQ = q("q_sample_weighted",
    // deterministic weighted sample (Flow.sampleWeighted): keep with
    // p = clamp(acctbal/10000); per-row integer threshold, exact compare
    s"""SELECT c_custkey FROM customer
       WHERE ${OracleSql.lcg31("c_custkey")}
             < CAST(round(least(greatest(c_acctbal / 10000.0, 0.0), 1.0) * 2147483648) AS BIGINT)""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d))
      .sampleWeighted(_.c_acctbal / 10000.0)(_.c_custkey)
      .map(_.c_custkey).toDF.toDF("c_custkey")
  }

  private val sampleHashQ = q("q_sample_hash",
    // deterministic hash-Bernoulli sample (Flow.sampleBy): xor-folded key
    // through a 31-bit LCG vs floor(0.1 * 2^31) — exact integer
    // arithmetic both engines (>> matches Scala >>> on nonneg keys)
    s"""SELECT o_orderkey FROM orders
       WHERE ${OracleSql.lcg31("o_orderkey")} < 214748364""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).sampleBy(0.1)(_.o_orderkey)
      .map(_.o_orderkey).toDF.toDF("o_orderkey")
  }

  // ==========================================================
  // §2.6 set ops
  // ==========================================================

  private val returnQ = q("q_return",
    // return$ (inline constant relation) joined against a table so the
    // oracle exercises the same data path
    """SELECT seg.name AS segment, CAST(COUNT(*) AS BIGINT) AS n
       FROM (VALUES ('BUILDING', 1), ('MACHINERY', 2)) seg(name, pri)
       JOIN customer ON c_mktsegment = seg.name
       GROUP BY 1""") { (s, d) =>
    import s.implicits._
    val inline = Flow.of(s)(Seq(("BUILDING", 1), ("MACHINERY", 2)))
    inline.join(Flow(Tables.customer(s, d)))(_._1)(_.c_mktsegment)((seg, _) => seg._1)
      .groupBy(identity).fold(Fold.count[String])
      .map(p => (p._1, p._2))
      .toDF.toDF("segment", "n")
  }

  private val selfJoinQ = q("q_self_join",
    // self-join (the reference's noop$/alias-self-joins rewrite,
    // oven.clj:252-309): same relation on both sides
    """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
       FROM orders a JOIN orders b
       ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
       WHERE a.o_totalprice > 400000 AND b.o_totalprice > 400000""") { (s, d) =>
    import s.implicits._
    val big = Flow(Tables.orders(s, d)).filter(_.o_totalprice > 400000)
    big.join(big)(_.o_custkey)(_.o_custkey)((a, b) => (a.o_orderkey, b.o_orderkey))
      .filter(p => p._1 < p._2)
      .toDF.toDF("k1", "k2")
  }

  private val distinctQ = q("q_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).map(c => (c.c_mktsegment, c.c_nationkey))
      .distinct.toDF.toDF("c_mktsegment", "c_nationkey")
  }

  private val unionQ = q("q_union",
    """SELECT o_custkey AS k FROM orders
       UNION SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).map(_.o_custkey)
      .union(Flow(Tables.customer(s, d)).filter(_.c_acctbal > 1000).map(_.c_custkey))
      .toDF.toDF("k")
  }

  private val concatQ = q("q_concat",
    """SELECT o_custkey AS k FROM orders
       UNION ALL SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).map(_.o_custkey)
      .concat(Flow(Tables.customer(s, d)).filter(_.c_acctbal > 1000).map(_.c_custkey))
      .toDF.toDF("k")
  }

  private val intersectionQ = q("q_intersection",
    """SELECT o_custkey AS k FROM orders
       INTERSECT SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).map(_.o_custkey)
      .intersection(Flow(Tables.customer(s, d)).filter(_.c_acctbal < 0).map(_.c_custkey))
      .toDF.toDF("k")
  }

  private val intersectionMultisetQ = q("q_intersection_multiset",
    """SELECT l_partkey AS k FROM lineitem WHERE l_quantity <= 2
       INTERSECT ALL SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d)).filter(_.l_quantity <= 2).map(_.l_partkey)
      .intersectionMultiset(
        Flow(Tables.lineitem(s, d)).filter(_.l_returnflag == "R").map(_.l_partkey))
      .toDF.toDF("k")
  }

  private val differenceQ = q("q_difference",
    """SELECT c_custkey AS k FROM customer
       EXCEPT SELECT o_custkey AS k FROM orders""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).map(_.c_custkey)
      .difference(Flow(Tables.orders(s, d)).map(_.o_custkey))
      .toDF.toDF("k")
  }

  private val differenceMultisetQ = q("q_difference_multiset",
    """SELECT l_suppkey AS k FROM lineitem WHERE l_quantity <= 10
       EXCEPT ALL SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d)).filter(_.l_quantity <= 10).map(_.l_suppkey)
      .differenceMultiset(
        Flow(Tables.lineitem(s, d)).filter(_.l_returnflag == "A").map(_.l_suppkey))
      .toDF.toDF("k")
  }

  // ==========================================================
  // §2.4 join / group family
  // ==========================================================

  private val joinInnerQ = q("q_join_inner",
    """SELECT o_orderkey, c_name FROM orders JOIN customer
       ON o_custkey = c_custkey""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d))
      .join(Flow(Tables.customer(s, d)))(_.o_custkey)(_.c_custkey)(
        (o, c) => (o.o_orderkey, c.c_name))
      .toDF.toDF("o_orderkey", "c_name")
  }

  /** Same oracle as q_join_inner — [[graft.operators.SkewJoin.saltedJoin]]
    * is semantics-preserving by construction; the driver's hash gate proves
    * it on real data while SkewJoinSpec proves the hot key actually
    * spreads.
    */
  private val joinSaltedQ = q("q_join_salted",
    """SELECT o_orderkey, c_name FROM orders JOIN customer
       ON o_custkey = c_custkey""") { (s, d) =>
    graft.operators.SkewJoin.saltedJoin(
      Tables.df(s, d, "orders"),
      Tables.df(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name")),
      keys = Seq("o_custkey"), salts = 8, saltOn = Seq("o_orderkey"))
      .select("o_orderkey", "c_name")
  }

  private val joinLeftQ = q("q_join_left",
    """SELECT c_custkey, o_orderkey FROM customer
       LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > 100000""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d))
      .joinWith(Flow(Tables.orders(s, d)).filter(_.o_totalprice > 100000), JoinKind.Left)(
        _.c_custkey)(_.o_custkey)
      .map(p => (p._1.get.c_custkey, p._2.map(_.o_orderkey)))
      .toDF.toDF("c_custkey", "o_orderkey")
  }

  private val joinRightQ = q("q_join_right",
    """SELECT o_orderkey, c_custkey FROM orders
       RIGHT JOIN customer ON o_custkey = c_custkey AND o_totalprice > 100000""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).filter(_.o_totalprice > 100000)
      .joinWith(Flow(Tables.customer(s, d)), JoinKind.Right)(_.o_custkey)(_.c_custkey)
      .map(p => (p._1.map(_.o_orderkey), p._2.get.c_custkey))
      .toDF.toDF("o_orderkey", "c_custkey")
  }

  private val joinFullQ = q("q_join_full",
    """SELECT a.k AS lk, a.n_chars, b.k AS rk, b.p_size FROM
         (SELECT doc_id % 700 AS k, CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1) a
       FULL JOIN
         (SELECT CAST(p_partkey % 900 AS BIGINT) AS k, CAST(SUM(p_size) AS BIGINT) AS p_size
            FROM part GROUP BY 1) b
       ON a.k = b.k""") { (s, d) =>
    import s.implicits._
    val docs = Flow(Tables.documents(s, d)).groupBy(_.doc_id % 700)
      .fold(Fold.sum[Long].premap[Doc](_.n_chars))
    val parts = Flow(Tables.part(s, d)).groupBy(p => p.p_partkey % 900)
      .fold(Fold.sum[Long].premap[Part](_.p_size.toLong))
    docs.joinWith(parts, JoinKind.Full)(_._1)(_._1)
      .map(p => (p._1.map(_._1), p._1.map(_._2), p._2.map(_._1), p._2.map(_._2)))
      .toDF.toDF("lk", "n_chars", "rk", "p_size")
  }

  /** Same oracle as q_join_full, verbatim — the salted full join's union
    * decomposition ([[graft.operators.SkewJoin.saltedJoin]]) is
    * semantics-preserving; both aggregate inputs have non-null payloads,
    * so lk/rk are recovered from payload nullness after the using-join
    * coalesces the key.
    */
  private val joinSaltedFullQ = q("q_join_salted_full",
    """SELECT a.k AS lk, a.n_chars, b.k AS rk, b.p_size FROM
         (SELECT doc_id % 700 AS k, CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1) a
       FULL JOIN
         (SELECT CAST(p_partkey % 900 AS BIGINT) AS k, CAST(SUM(p_size) AS BIGINT) AS p_size
            FROM part GROUP BY 1) b
       ON a.k = b.k""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
      .groupBy((col("doc_id") % 700).cast("long").as("k"))
      .agg(sum("n_chars").cast("long").as("n_chars"))
    val parts = Tables.df(s, d, "part")
      .groupBy((col("p_partkey") % 900).cast("long").as("k"))
      .agg(sum("p_size").cast("long").as("p_size"))
    graft.operators.SkewJoin.saltedJoin(docs, parts, Seq("k"),
        salts = 8, joinType = "full", saltOn = Seq("k"))
      .select(
        when(col("n_chars").isNotNull, col("k")).as("lk"), col("n_chars"),
        when(col("p_size").isNotNull, col("k")).as("rk"), col("p_size"))
  }

  private val joinNilsQ = q("q_join_nils",
    """SELECT a.k, CAST(COUNT(*) AS BIGINT) AS n FROM
         (SELECT NULLIF(c_nationkey, 3) AS k FROM customer) a
       JOIN (SELECT NULLIF(s_nationkey, 3) AS k FROM supplier) b
       ON a.k IS NOT DISTINCT FROM b.k
       GROUP BY a.k""") { (s, d) =>
    import s.implicits._
    val c = Flow(Tables.customer(s, d))
      .map(c0 => if (c0.c_nationkey == 3) None else Some(c0.c_nationkey))
    val sup = Flow(Tables.supplier(s, d))
      .map(s0 => if (s0.s_nationkey == 3) None else Some(s0.s_nationkey))
    c.joinWith(sup, JoinKind.Inner, joinNils = true)(identity)(identity)
      .map(p => p._1.get)
      .groupBy(identity).fold(Fold.count[Option[Int]])
      .map(p => (p._1, p._2))
      .toDF.toDF("k", "n")
  }

  private val joinNilsDefaultQ = q("q_join_nils_default",
    """SELECT a.k, CAST(COUNT(*) AS BIGINT) AS n FROM
         (SELECT NULLIF(c_nationkey, 3) AS k FROM customer) a
       JOIN (SELECT NULLIF(s_nationkey, 3) AS k FROM supplier) b
       ON a.k = b.k
       GROUP BY a.k""") { (s, d) =>
    import s.implicits._
    val c = Flow(Tables.customer(s, d))
      .map(c0 => if (c0.c_nationkey == 3) None else Some(c0.c_nationkey))
    val sup = Flow(Tables.supplier(s, d))
      .map(s0 => if (s0.s_nationkey == 3) None else Some(s0.s_nationkey))
    c.joinWith(sup, JoinKind.Inner, joinNils = false)(identity)(identity)
      .map(p => p._1.get)
      .groupBy(identity).fold(Fold.count[Option[Int]])
      .map(p => (p._1, p._2))
      .toDF.toDF("k", "n")
  }

  private val filterByQ = q("q_filter_by",
    // duplicate-preserving semi-join: row multiplicity = key multiplicity
    """SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey""") { (s, d) =>
    import s.implicits._
    Flow(Tables.nation(s, d))
      .filterBy(Flow(Tables.customer(s, d)).map(_.c_nationkey))(_.n_nationkey)
      .map(_.n_name).toDF.toDF("n_name")
  }

  private val removeByQ = q("q_remove_by",
    """SELECT l_orderkey, l_partkey FROM lineitem
       WHERE l_quantity <= 2 AND l_partkey NOT IN
         (SELECT p_partkey FROM part WHERE p_size > 40)""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d)).filter(_.l_quantity <= 2)
      .removeBy(Flow(Tables.part(s, d)).filter(_.p_size > 40).map(_.p_partkey))(_.l_partkey)
      .map(l => (l.l_orderkey, l.l_partkey)).toDF.toDF("l_orderkey", "l_partkey")
  }

  private val cogroupQ = q("q_cogroup",
    """SELECT COALESCE(a.k, b.k) AS k,
              CAST(COALESCE(a.n, 0) AS BIGINT) AS n_orders,
              CAST(COALESCE(b.n, 0) AS BIGINT) AS n_items
       FROM (SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) a
       FULL JOIN (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1) b
       ON a.k = b.k""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d))
      .cogroup(Flow(Tables.lineitem(s, d)))(_.o_orderkey)(_.l_orderkey)(
        (k, os, ls) => Iterator.single((k, os.size.toLong, ls.size.toLong)))
      .toDF.toDF("k", "n_orders", "n_items")
  }

  private val cogroup3Q = q("q_cogroup3",
    """SELECT n.n_nationkey AS k,
              CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cust,
              CAST(COALESCE(s.n, 0) AS BIGINT) AS n_supp,
              CAST(COUNT(*) AS BIGINT) AS n_nat
       FROM nation n
       LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1) c
         ON c.c_nationkey = n.n_nationkey
       LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n FROM supplier GROUP BY 1) s
         ON s.s_nationkey = n.n_nationkey
       GROUP BY 1, 2, 3""") { (s, d) =>
    import s.implicits._
    // one-shuffle 3-way cogroup; every nationkey appears in nation, so the
    // SQL LEFT JOIN shape is equivalent to the outer cogroup
    Flow(Tables.nation(s, d))
      .cogroup3(Flow(Tables.customer(s, d)), Flow(Tables.supplier(s, d)))(
        _.n_nationkey)(_.c_nationkey)(_.s_nationkey)(
        (k, ns, cs, ss) =>
          if (ns.isEmpty) Iterator.empty
          else Iterator.single((k, cs.size.toLong, ss.size.toLong, ns.size.toLong)))
      .toDF.toDF("k", "n_cust", "n_supp", "n_nat")
  }

  private val cogroup4Q = q("q_cogroup4",
    """SELECT n.n_nationkey AS k,
              CAST(COUNT(*) AS BIGINT) AS n_nat,
              CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cust,
              CAST(COALESCE(s.n, 0) AS BIGINT) AS n_supp,
              CAST(COALESCE(h.n, 0) AS BIGINT) AS n_rich
       FROM nation n
       LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1) c
         ON c.c_nationkey = n.n_nationkey
       LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n FROM supplier GROUP BY 1) s
         ON s.s_nationkey = n.n_nationkey
       LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer
                  WHERE c_acctbal > 5000 GROUP BY 1) h
         ON h.c_nationkey = n.n_nationkey
       GROUP BY 1, 3, 4, 5""") { (s, d) =>
    import s.implicits._
    // arbitrary-arity cogroup (Flow.cogroupN): 4 tagged inputs, ONE
    // shuffle; nation holds every key so the LEFT JOIN oracle is the
    // outer-cogroup result
    val cust = Flow(Tables.customer(s, d))
    Flow.cogroupN[Int, (Int, Long, Long, Long, Long)](Seq(
        Flow.in(Flow(Tables.nation(s, d)))(_.n_nationkey),
        Flow.in(cust)(_.c_nationkey),
        Flow.in(Flow(Tables.supplier(s, d)))(_.s_nationkey),
        Flow.in(cust.filter(_.c_acctbal > 5000))(_.c_nationkey))) {
      (k, bags) =>
        if (bags(0).isEmpty) Iterator.empty
        else Iterator.single((k, bags(0).size.toLong, bags(1).size.toLong,
          bags(2).size.toLong, bags(3).size.toLong))
    }.toDF.toDF("k", "n_nat", "n_cust", "n_supp", "n_rich")
  }

  private val cogroup3FoldQ = q("q_cogroup3_fold",
    """SELECT n.n_nationkey AS k,
              CAST(COUNT(*) AS BIGINT) AS n_nat,
              CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cust,
              CAST(COALESCE(s.cents, 0) AS BIGINT) AS supp_cents
       FROM nation n
       LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1) c
         ON c.c_nationkey = n.n_nationkey
       LEFT JOIN (SELECT s_nationkey,
                         SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS cents
                  FROM supplier GROUP BY 1) s
         ON s.s_nationkey = n.n_nationkey
       GROUP BY 1, 3, 4""") { (s, d) =>
    import s.implicits._
    // 3-way group with a fold on EVERY select (Flow.cogroupNFold): one
    // shuffle, per-key state = three fold buffers, no bags — the N-way
    // grouped-aggregation scale shape. Missing inputs surface None → 0.
    Flow.cogroupNFold[Int, (Int, Long, Long, Long)](Seq(
        Flow.inFold(Flow(Tables.nation(s, d)))(_.n_nationkey)(Fold.count[Nation]),
        Flow.inFold(Flow(Tables.customer(s, d)))(_.c_nationkey)(Fold.count[Customer]),
        Flow.inFold(Flow(Tables.supplier(s, d)))(_.s_nationkey)(
          Fold.sum[Long].premap[Supplier](sp => math.round(sp.s_acctbal * 100))))) {
      (k, rs) =>
        if (rs(0).isEmpty) Iterator.empty
        else Iterator.single((k,
          rs(0).get.asInstanceOf[Long],
          rs(1).map(_.asInstanceOf[Long]).getOrElse(0L),
          rs(2).map(_.asInstanceOf[Long]).getOrElse(0L)))
    }.toDF.toDF("k", "n_nat", "n_cust", "supp_cents")
  }

  private val groupByQ = q("q_group_by",
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
       FROM customer GROUP BY c_mktsegment""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).groupBy(_.c_mktsegment)
      .fold2(Fold.count[Customer],
        Fold.sum[Long].premap[Customer](c => math.round(c.c_acctbal * 100)))
      .map(p => (p._1, p._2, p._3))
      .toDF.toDF("c_mktsegment", "n", "bal_cents")
  }

  private val groupStatsQ = q("q_group_stats",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
              MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
       FROM orders GROUP BY o_orderpriority""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).groupBy(_.o_orderpriority)
      .fold3(Fold.count[Orders],
        Fold.minBy[Orders, Double](_.o_totalprice).andThen(_.map(_.o_totalprice)),
        Fold.maxBy[Orders, Double](_.o_totalprice).andThen(_.map(_.o_totalprice)))
      .map(p => (p._1, p._2, p._3.get, p._4.get))
      .toDF.toDF("o_orderpriority", "n", "min_price", "max_price")
  }

  private val topByQ = q("q_top_by",
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
       QUALIFY row_number() OVER
         (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) <= 3""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).groupBy(_.c_mktsegment)
      .fold(Fold.topBy[Customer, (Double, Long)](3)(c => (c.c_acctbal, -c.c_custkey)))
      .mapcat { p => p._2.map(c => (p._1, c.c_custkey, c.c_acctbal)) }
      .toDF.toDF("c_mktsegment", "c_custkey", "c_acctbal")
  }

  private val reduceQ = q("q_reduce",
    "SELECT CAST(SUM(l_quantity) AS DOUBLE) AS total_qty FROM lineitem") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d)).map(_.l_quantity)
      .reduce(_ + _) // integral doubles: associative & exact
      .toDF.toDF("total_qty")
  }

  private val foldAllQ = q("q_fold_all",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
       FROM customer""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d))
      .foldAll(Fold.juxt(
        Fold.count[Customer],
        Fold.sum[Long].premap[Customer](c => math.round(c.c_acctbal * 100))))
      .toDF.toDF("n", "bal_cents")
  }

  private val intoQ = q("q_into",
    "SELECT list_sort(list(DISTINCT c_mktsegment)) AS segments FROM customer") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).map(_.c_mktsegment).distinct
      .intoSeq
      .map(_.sorted)
      .toDF.toDF("segments")
  }

  private val avgFoldQ = q("q_fold_avg",
    """SELECT l_returnflag,
              CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    import s.implicits._
    Flow(Tables.lineitem(s, d)).groupBy(_.l_returnflag)
      .fold2(
        Fold.sum[Long].premap[Lineitem](l => l.l_quantity.toLong),
        Fold.count[Lineitem])
      .map(p => (p._1, p._2.toDouble / p._3.toDouble))
      .toDF.toDF("l_returnflag", "avg_qty")
  }

  private val foldDistinctQ = q("q_fold_distinct",
    // statuses joined to one string: the driver's pandas compare can't
    // sort/hash a list column, so surface the sorted set as a scalar
    """SELECT o_orderpriority,
              array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
       FROM orders GROUP BY o_orderpriority""") { (s, d) =>
    import s.implicits._
    Flow(Tables.orders(s, d)).groupBy(_.o_orderpriority)
      .fold(Fold.distinct[String].premap[Orders](_.o_orderstatus))
      .map(p => (p._1, p._2.toVector.sorted.mkString(",")))
      .toDF.toDF("o_orderpriority", "statuses")
  }

  private val foldAvgLibQ = q("q_fold_avg_lib",
    """SELECT c_mktsegment,
              CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_cents
       FROM customer GROUP BY c_mktsegment""") { (s, d) =>
    import s.implicits._
    Flow(Tables.customer(s, d)).groupBy(_.c_mktsegment)
      .fold(Fold.avg[Long].premap[Customer](c => math.round(c.c_acctbal * 100)))
      .map(p => (p._1, p._2.get))
      .toDF.toDF("c_mktsegment", "avg_cents")
  }

  private val foldSortTakeQ = q("q_fold_sort_take",
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
       QUALIFY row_number() OVER
         (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) <= 2""") { (s, d) =>
    import s.implicits._
    // fold/sort-by composed with fold/take (reference fold.clj:212-260,
    // 155-169) = bottom-k per group; bounded-heap via topBy on reversed key
    Flow(Tables.customer(s, d)).groupBy(_.c_mktsegment)
      .fold(Fold.topBy[Customer, (Double, Long)](2)(c => (-c.c_acctbal, -c.c_custkey)))
      .mapcat(p => p._2.map(c => (p._1, c.c_custkey, c.c_acctbal)))
      .toDF.toDF("c_mktsegment", "c_custkey", "c_acctbal")
  }

  private val foldJuxtQ = q("q_fold_juxt",
    """SELECT c_mktsegment,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              MIN(c_acctbal) AS min_bal,
              MAX(c_acctbal) AS max_bal
       FROM customer GROUP BY c_mktsegment""") { (s, d) =>
    import s.implicits._
    // N-ary juxt (reference fold.clj:262-296): four folds advance in ONE
    // pass over each group — one shuffle, one aggregate, not four.
    implicit val anyE: org.apache.spark.sql.Encoder[IndexedSeq[Any]] =
      org.apache.spark.sql.Encoders.kryo[IndexedSeq[Any]]
    Flow(Tables.customer(s, d)).groupBy(_.c_mktsegment)
      .fold(Fold.juxtN[Customer](
        Fold.count[Customer],
        Fold.sum[Long].premap[Customer](c => math.round(c.c_acctbal * 100)),
        Fold.min[Double].premap[Customer](_.c_acctbal),
        Fold.max[Double].premap[Customer](_.c_acctbal)))
      .map { case (seg, r) => (seg,
        r(0).asInstanceOf[Long],
        r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Option[Double]].get,
        r(3).asInstanceOf[Option[Double]].get) }
      .toDF.toDF("c_mktsegment", "n", "sum_cents", "min_bal", "max_bal")
  }

  // ==========================================================
  // Headline relational queries (DataFrame lane — bench set)
  // ==========================================================

  /** q_q1's sum_charge rendering: an exact e-10-dollar total
    * (decimal(38,0)) as a double, HALF_UP-rounded to cents ONCE, equal
    * to the oracle's CAST(ROUND(SUM(decimal(36,10)), 2) AS DOUBLE).
    *
    * Why not `round(total * 1e-10, 2)` (r16, ADVICE fix): decimal(38,0) ×
    * decimal(10,10) has result precision 49, so Spark's
    * allowPrecisionLoss adjustment coerces the product to decimal(38,6)
    * — HALF_UP-rounding to 6 fractional digits BEFORE round(_, 2); an
    * exact total like 100.0049999950 would read 100.01 vs the oracle's
    * 100.00. So the rounding happens in EXACT decimal(38,0) integer
    * arithmetic: bias by signum(total) × half a cent (5e7 e-10 units;
    * a zero total may take either bias) and truncate the low 8 digits
    * toward zero with `%` (whose result takes the dividend's sign) —
    * HALF_UP, away from zero, for either sign. The one residual multiply
    * by 1e-10 then scales an exact multiple of 1e8, whose product has ≤ 2
    * fractional digits — the decimal(38,6) coercion rounds it exactly,
    * and the final double equals the oracle's bit for bit.
    */
  private[graft] def centsHalfUp(totalE10: Column): Column = {
    val e8 = lit(100000000L).cast("decimal(38,0)")
    val half = lit(50000000L).cast("decimal(38,0)")
    val biased = totalE10 + when(totalE10 < 0, -half).otherwise(half)
    ((biased - biased % e8) * lit(new java.math.BigDecimal("0.0000000001"))).cast("double")
  }

  // decimal widths chosen so every product stays inside DECIMAL(38,_) in
  // BOTH engines (overflow would silently demote to double / lose scale):
  // price(18,2) * disc(8,4) -> (27,6); * tax(8,4) -> (36,10).
  private val q1 = q("q_q1",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_disc_price,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
              CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
              CAST(COUNT(*) AS BIGINT) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
    bench = true) { (s, d) =>
    // Integer-fixed-point lane (r15 — the q_revenue_by_nation discipline
    // extended to the flagship scan-agg): decimal(18,2)×decimal(8,4)
    // products leave Spark's compact long-backed Decimal and allocate a
    // BigDecimal PER LINEITEM ROW inside the hash aggregate; under the
    // honest noop-timed bench that was ~70% of q_q1's x16 cost. The
    // source doubles carry exactly 2 (qty, price) and ≤4 (disc, tax)
    // decimal digits (the r12 ProbeRevenueJoin audit; the oracle's own
    // casts assert the same), so every measure is EXACT in fixed-point
    // longs: qty/price in cents, disc_price in 10^-6 $ (cents × basis
    // points), charge in 10^-10 $. Per-measure sums run as 1-3 parallel
    // LONG sums over 2^20-bit slices — pure codegen long adds; the
    // slice sums make overflow impossible with wide margin at the
    // 100 TB design point (worst case, charge: slice values ≤ 2^20·N,
    // long overflows past N ≈ 8.8·10^12 rows ≈ 1.5 PB of lineitem) —
    // and the slices recombine in decimal(38,_) over the ~6 GROUP rows,
    // where the exact scale-2 ROUND and the one decimal→double rounding
    // happen exactly as the oracle's CAST(ROUND(SUM(..), 2) AS DOUBLE).
    // Every quotient below divides by an exact power of ten through
    // decimal multiplication (0.01 / 0.000001 / …), never double math,
    // so the final doubles are bit-identical to the decimal-sum
    // formulation (oracle hash-gates at both SFs).
    val mask = lit((1L << 20) - 1)
    def lo(c: Column) = c.bitwiseAND(mask)
    def mid(c: Column) = shiftrightunsigned(c, 20).bitwiseAND(mask)
    def hi40(c: Column) = shiftrightunsigned(c, 40)
    def hi20(c: Column) = shiftrightunsigned(c, 20)
    val qtyC = round(col("l_quantity") * 100).cast("long")
    val priceC = round(col("l_extendedprice") * 100).cast("long")
    val discBp = round(col("l_discount") * 10000).cast("long")
    val taxBp = round(col("l_tax") * 10000).cast("long")
    val dpM6 = priceC * (lit(10000L) - discBp) // price·(1−disc), 10^-6 $
    val chE10 = dpM6 * (lit(10000L) + taxBp) // · (1+tax), 10^-10 $
    val n = count(lit(1))
    def dec(c: Column) = c.cast("decimal(38,0)")
    def join2(l: Column, h: Column) = dec(h) * lit(1L << 20).cast("decimal(7,0)") + dec(l)
    def join3(l: Column, m: Column, h: Column) =
      dec(h) * lit(1L << 40).cast("decimal(13,0)") +
        dec(m) * lit(1L << 20).cast("decimal(7,0)") + dec(l)
    def unit(s: String) = lit(new java.math.BigDecimal(s))
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qtyC).as("__qc"),
        sum(lo(priceC)).as("__pl"), sum(hi20(priceC)).as("__ph"),
        sum(lo(dpM6)).as("__dl"), sum(hi20(dpM6)).as("__dh"),
        sum(lo(chE10)).as("__cl"), sum(mid(chE10)).as("__cm"), sum(hi40(chE10)).as("__ch"),
        sum(discBp).as("__bp"),
        n.as("__n"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (dec(col("__qc")) * unit("0.01")).cast("double").as("sum_qty"),
        (join2(col("__pl"), col("__ph")) * unit("0.01")).cast("double").as("sum_base_price"),
        round(join2(col("__dl"), col("__dh")) * unit("0.000001"), 2)
          .cast("double").as("sum_disc_price"),
        centsHalfUp(join3(col("__cl"), col("__cm"), col("__ch"))).as("sum_charge"),
        ((dec(col("__qc")) * unit("0.01")).cast("double") /
          col("__n").cast("double")).as("avg_qty"),
        ((join2(col("__pl"), col("__ph")) * unit("0.01")).cast("double") /
          col("__n").cast("double")).as("avg_price"),
        ((dec(col("__bp")) * unit("0.0001")).cast("double") /
          col("__n").cast("double")).as("avg_disc"),
        col("__n").as("count_order"))
  }

  private val q5ish = q("q_revenue_by_nation",
    """SELECT n_name,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name IN ('ASIA', 'EUROPE')
       GROUP BY n_name""",
    bench = true) { (s, d) =>
    // integer-cents lane (round 12): the r10-r11 A/B (ProbeRevenueJoin)
    // attributed roughly half the residual floor to per-row JVM decimal —
    // decimal(18,2)×decimal(8,4) widens to decimal(27,6), which leaves
    // Spark's compact long-backed Decimal (p ≤ 18) and allocates a
    // BigDecimal PER LINEITEM ROW. The source doubles carry exactly 2
    // (price) and ≤4 (discount) decimal digits, so the same product is
    // exact in long micro-dollars: cents × (10000 − bp), pure codegen
    // long arithmetic in the scan projection. Per-order sums top out
    // ~7·10^11 (bounded fan-out) so the fact-side sum stays long; the
    // NATION-level sum scales with the corpus and runs in decimal(38,0)
    // (cast below) — overflow is impossible at any SF regardless of the
    // session's spark.sql.ansi.enabled, and decimal is paid only per
    // ORDER row after the join, never per lineitem row.
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val bp = round(col("l_discount") * 10000).cast("long")
    val micro = cents * (lit(10000L) - bp)
    // dimension-first join order: the region predicate prunes customers,
    // then orders, BEFORE the two big shuffles — at scale the lineitem
    // join's probe side carries only surviving orders (inner joins
    // commute, so results are identical; ~20% faster already at sf0.1)
    val nations = broadcast(Tables.df(s, d, "nation")
      .join(broadcast(Tables.df(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name").isin("ASIA", "EUROPE"))
      .select("n_nationkey", "n_name"))
    val custF = Tables.df(s, d, "customer")
      .join(nations, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    val ordF = Tables.df(s, d, "orders")
      .join(custF, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "n_name")
    // fact side: pre-aggregate revenue per orderkey BEFORE the join (sum
    // is distributive over the orderkey→nation function, so the result is
    // identical) — the map-side partial agg compresses the lineitem
    // shuffle by the per-order fan-out (~4×), and the aggregate's hash
    // partitioning on l_orderkey is REUSED by the join (no second
    // exchange on the fact lineage). The join stays SHUFFLE_HASH on the
    // filtered-orders side (the x16 lane showed sort-merge paying two
    // full fact-shuffle sorts): build side is the region-filtered
    // (o_orderkey, n_name) projection — UNIQUE join key so no build-side
    // skew, and AQE skew-split/broadcast demotion still apply.
    // Final rendering touches ~25 nation rows: exact micro-dollar long →
    // decimal → ROUND half-up to cents → double, bit-identical to the
    // oracle's CAST(ROUND(SUM(decimal), 2) AS DOUBLE) because the decimal
    // sum equals sum_micro/10^6 exactly and both engines round the SAME
    // scale-2 decimal into the SAME double.
    Tables.df(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(micro).as("__rev_micro"))
      .join(ordF.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      // nation-level sum in decimal(38,0): the per-order micro sums are
      // long-safe (bounded per-order fan-out), but their NATION total
      // scales with the corpus — decimal input makes overflow impossible
      // regardless of the session's spark.sql.ansi.enabled, instead of
      // wrapping silently under an ANSI-off session. The decimal agg runs
      // on post-join per-order rows, not the fact scan.
      .agg(round(sum(col("__rev_micro").cast("decimal(38,0)")) /
        lit(1000000L).cast("decimal(7,0)"), 2).cast("double").as("revenue"))
  }

  /** TPC-H Q3 shape (shipping-priority revenue; no o_shippriority column in
    * the synthetic schema, otherwise the classic query): unshipped orders
    * of one market segment ranked by revenue. Top-k has the deterministic
    * tiebreak (revenue desc, orderkey asc) on BOTH sides so the LIMIT is
    * oracle-stable. Scale shape mirrors q_revenue_by_nation: the segment
    * filter prunes customers BEFORE the orders join; the lineitem join
    * hashes the filtered-orders build side (same ProbeRevenueJoin
    * measurement — shuffled hash beats two fact-shuffle sorts, unique
    * build key so no build skew); top-10 is a TakeOrdered, never a
    * global sort.
    */
  private val q3ish = q("q_q3",
    """SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey ASC
       LIMIT 10""") { (s, d) =>
    val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
    // integer-micro-dollar lane (r15, the q_q1/q_revenue discipline):
    // price·(1−disc) is exact in long micro-dollars — cents × (10^4 −
    // basis points) — and the per-ORDER sum is fan-out-bounded (≤ 7
    // lineitems/order → ≤ ~10^12, long-safe at any SF), so the per-row
    // decimal(27,6) BigDecimal allocation disappears; the exact scale-2
    // round + double cast run per surviving ORDER row in decimal.
    val revM6 = round(col("l_extendedprice") * 100).cast("long") *
      (lit(10000L) - round(col("l_discount") * 10000).cast("long"))
    val cust = Tables.df(s, d, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.df(s, d, "orders")
      .where(col("o_orderdate") < cutoff)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate")
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") > cutoff)
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(revM6).cast("decimal(38,0)") *
        lit(new java.math.BigDecimal("0.000001")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q6 (forecast revenue change): one scan, one scalar — the
    * pushdown showcase (every predicate reaches the parquet scan).
    */
  private val q6 = q("q_q6",
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""") { (s, d) =>
    // integer-micro-dollar lane (r15, the q_q1 discipline): price·disc
    // is exact in long micro-dollars; the GLOBAL sum splits into two
    // long sums over 2^20-bit slices (overflow-free past 10^12 rows)
    // recombined in decimal on the single output row.
    val m6 = round(col("l_extendedprice") * 100).cast("long") *
      round(col("l_discount") * 10000).cast("long")
    val mask6 = lit((1L << 20) - 1)
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(m6.bitwiseAND(mask6)).as("__lo"),
        sum(shiftrightunsigned(m6, 20)).as("__hi"))
      .select(round((col("__hi").cast("decimal(38,0)") *
          lit(1L << 20).cast("decimal(7,0)") + col("__lo").cast("decimal(38,0)")) *
          lit(new java.math.BigDecimal("0.000001")), 2)
        .cast("double").as("revenue"))
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    * per customer over a quarter, top 20. Same deterministic-tiebreak and
    * dimension-first-prune disciplines as q_q3.
    */
  private val q10ish = q("q_q10",
    """SELECT c_custkey, c_name,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
       GROUP BY c_custkey, c_name
       ORDER BY revenue DESC, c_custkey ASC
       LIMIT 20""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    val ord = Tables.df(s, d, "orders")
      .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.df(s, d, "lineitem")
      .where(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.df(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q14 shape (promotion effect): the share of a month's revenue
    * from one part type. Two-table join with the dimension broadcast;
    * the conditional aggregate is the classic map-side CASE — exact
    * integer-free double parity via the q_q1 DECIMAL discipline.
    */
  private val q14ish = q("q_q14",
    """SELECT CAST(ROUND(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END)
                  / SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 6) AS DOUBLE) AS promo_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("1997-03-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
      .join(broadcast(Tables.df(s, d, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
          sum(when(col("p_type") === "ECONOMY", rev).otherwise(lit(0).cast("decimal(18,2)"))) /
          sum(rev), 6).cast("double").as("promo_pct"))
  }

  /** TPC-H Q18 shape (large-volume customers): orders whose total quantity
    * clears a threshold, with the buyer. The HAVING pre-aggregation runs
    * BEFORE the joins (one fact shuffle keyed by orderkey; the surviving
    * order set is tiny, so the customer join broadcasts).
    */
  private val q18ish = q("q_q18",
    """SELECT c_name, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       GROUP BY c_name, o_orderkey, o_orderdate
       HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
       ORDER BY total_qty DESC, o_orderkey ASC
       LIMIT 20""") { (s, d) =>
    val qty = col("l_quantity").cast("decimal(18,2)")
    val big = Tables.df(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(qty).as("__tq"))
      .where(col("__tq") > 150)
    big.join(Tables.df(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.df(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("__tq").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(20)
  }

  /** TPC-H Q4 shape (order-priority checking): orders in a quarter having
    * at least one returned line — the correlated EXISTS must plan as ONE
    * semi join keyed on the order key (probe side shuffles once), never a
    * per-row subquery re-scan. The adapted predicate (`l_returnflag = 'R'`)
    * stands in for TPC-H's `l_commitdate < l_receiptdate`, which this
    * dataset does not carry.
    */
  private val q4ish = q("q_q4",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority""") { (s, d) =>
    val returned = Tables.df(s, d, "lineitem")
      .where(col("l_returnflag") === "R").select("l_orderkey")
    Tables.df(s, d, "orders")
      .where(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q16 shape (supplier-count by part attributes) with the NOT IN
    * exclusion subquery. `l_suppkey` is non-null, so the NOT IN is exactly
    * a left ANTI join; the exclusion set is tiny (suppliers in arrears), so
    * it broadcasts — the anti probe is map-side, no extra shuffle. The
    * broadcast part-dimension join runs FIRST so the size/brand predicates
    * prune the fact before the anti probe and the distinct-count shuffle.
    * (partsupp is not in this dataset; lineitem's (partkey, suppkey) pairs
    * play its role.)
    */
  private val q16ish = q("q_q16",
    """SELECT p_brand, p_type, p_size,
              CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE p_brand <> 'Brand#11'
         AND p_size IN (1,4,7,10,13,16,19,22)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size""") { (s, d) =>
    val excluded = Tables.df(s, d, "supplier")
      .where(col("s_acctbal") < 0).select("s_suppkey")
    Tables.df(s, d, "lineitem").select("l_partkey", "l_suppkey")
      .join(broadcast(Tables.df(s, d, "part")
          .where(col("p_brand") =!= "Brand#11" &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the sole
    * returned-line supplier on a multi-supplier finished order — the
    * classic multi-correlated EXISTS + NOT EXISTS. Both correlations key on
    * `l_orderkey`, so the semi and anti legs hash/sort on the SAME key as
    * the probe: one co-partitioned exchange per leg, residual
    * `suppkey <> suppkey` evaluated inside the join, and exchange reuse
    * collapses the identical scans. (An equivalent single-pass
    * groupBy(orderkey) counting formulation exists; this one is the
    * semi/anti planning the reference's filter-by/remove-by surface maps
    * to, and it never re-scans per row.)
    */
  private val q21ish = q("q_q21",
    """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       FROM lineitem l1
       JOIN orders ON o_orderkey = l1.l_orderkey
       JOIN supplier ON s_suppkey = l1.l_suppkey
       WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_returnflag = 'R')
       GROUP BY s_name
       ORDER BY numwait DESC, s_name ASC
       LIMIT 20""") { (s, d) =>
    val li = Tables.df(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    val l1 = li.where(col("l_returnflag") === "R").select("l_orderkey", "l_suppkey")
    val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val l3 = li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    val finished = Tables.df(s, d, "orders")
      .where(col("o_orderstatus") === "F").select("o_orderkey")
    l1.join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(l3, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .join(finished, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  /** TPC-H Q15 shape (top supplier): suppliers whose quarterly revenue
    * equals the maximum — the correlated scalar-subquery pattern. The
    * revenue view is computed ONCE (materialized, two consumers: the rows
    * and their max); the scalar max is a 1-row broadcast, so the filter is
    * map-side — never a re-scan of the aggregate per row, never a global
    * sort. Revenue goes through exact DECIMAL → round(2) → double, so the
    * equality against the max cannot flip on summation order.
    */
  private val q15ish = q("q_q15",
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    val revenue = graft.operators.Materialize.once(
      Tables.df(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(round(sum(rev), 2).cast("double").as("total_revenue")))
    val top = revenue.agg(max(col("total_revenue")).as("__max"))
    revenue.join(broadcast(top), col("total_revenue") === col("__max"))
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_name")),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT join with
    * the priority filter applied to the ORDERS side only (customers whose
    * orders all fail the filter must still appear with c_count 0 — a
    * post-join WHERE would drop them), then a second aggregation over the
    * first. `count(o_orderkey)` counts matched rows only (nulls skipped).
    * Both aggregates hash-shuffle on their keys; the second one's input
    * is one row per customer, so the heavy shuffle happens exactly once.
    */
  private val q13ish = q("q_q13",
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
       FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count""") { (s, d) =>
    Tables.df(s, d, "customer").select("c_custkey")
      .join(Tables.df(s, d, "orders")
          .where(col("o_orderpriority") =!= "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated scalar
    * subquery `l_quantity < 0.2 * avg(quantity) per part` decorrelates to
    * ONE per-part aggregate joined back to the fact — never a re-scan per
    * probe row. The part-name filter broadcasts and prunes BOTH the
    * aggregate and the probe side, and the per-part threshold relation
    * (≤ |part| rows) broadcasts into the final join, so only the fact
    * aggregate shuffles. Threshold and result go through exact DECIMAL
    * sums (scale 2 — safe to cast straight to double) so the comparison
    * boundary cannot flip between engines.
    */
  private val q17ish = q("q_q17",
    """WITH pa AS (SELECT l_partkey,
                          CAST(0.2 AS DOUBLE) * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                                 / COUNT(*)) AS threshold
                   FROM lineitem JOIN part ON l_partkey = p_partkey
                   WHERE p_name LIKE 'small%'
                   GROUP BY l_partkey)
       SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
       FROM lineitem JOIN pa USING (l_partkey)
       WHERE l_quantity < threshold""") { (s, d) =>
    val smallParts = broadcast(Tables.df(s, d, "part")
      .where(col("p_name").like("small%")).select("p_partkey"))
    val li = Tables.df(s, d, "lineitem")
      .join(smallParts, col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val pa = li.groupBy("l_partkey")
      .agg((lit(0.2) * (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(lit(1)))).as("threshold"))
    li.join(broadcast(pa), Seq("l_partkey"))
      .where(col("l_quantity") < col("threshold"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier) over the deterministic
    * [[PartSupp]] fixture — the LAST undemonstrated decorrelation shape:
    * the correlated `ps_supplycost = (SELECT min(ps_supplycost) … WHERE
    * ps_partkey = outer.ps_partkey)` subquery decorrelates to ONE
    * per-part aggregate joined back (never a per-row re-scan). Join
    * order is dimension-first at every step: the selective part filter
    * (size + type) broadcasts and prunes partsupp BEFORE anything
    * shuffles; the region-side supplier filter broadcasts too; the
    * region-priced relation is materialized ONCE and feeds both the min
    * aggregate and the probe (min-per-part is invariant to the part
    * filter, so pruning first is semantics-preserving). Costs stay in
    * integer cents end-to-end — the min and its equality probe are exact
    * — and convert to dollars only in the projection.
    */
  private val q2ish = q("q_q2",
    s"""WITH ${PartSupp.sqlCte},
       costs AS (
         SELECT ps_partkey, ps_costcents, s_acctbal, s_name, n_name
         FROM partsupp
         JOIN (SELECT p_partkey FROM part
               WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD') fp
           ON ps_partkey = p_partkey
         JOIN supplier ON s_suppkey = ps_suppkey
         JOIN nation ON n_nationkey = s_nationkey
         JOIN region ON r_regionkey = n_regionkey
         WHERE r_name = 'EUROPE'),
       mc AS (SELECT ps_partkey, MIN(ps_costcents) AS min_cents
              FROM costs GROUP BY ps_partkey)
       SELECT c.s_acctbal, c.s_name, c.n_name, p.p_partkey, p.p_brand,
              CAST(c.ps_costcents AS DOUBLE) / 100.0 AS supplycost
       FROM costs c
       JOIN mc ON mc.ps_partkey = c.ps_partkey AND c.ps_costcents = mc.min_cents
       JOIN part p ON p.p_partkey = c.ps_partkey""") { (s, d) =>
    val fp = broadcast(Tables.df(s, d, "part")
      .where(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
      .select("p_partkey", "p_brand"))
    val euroSup = broadcast(Tables.df(s, d, "supplier")
      .join(broadcast(Tables.df(s, d, "nation")
          .join(broadcast(Tables.df(s, d, "region")
              .where(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    val costs = graft.operators.Materialize.once(
      PartSupp.df(s, d)
        .join(fp, col("ps_partkey") === col("p_partkey"))
        .join(euroSup, col("ps_suppkey") === col("s_suppkey"))
        .select(col("ps_partkey"), col("ps_costcents"), col("s_acctbal"),
          col("s_name"), col("n_name"), col("p_brand")))
    val mc = costs.groupBy(col("ps_partkey").as("__mk"))
      .agg(min(col("ps_costcents")).as("min_cents"))
    costs.join(broadcast(mc),
        col("ps_partkey") === col("__mk") && col("ps_costcents") === col("min_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("ps_partkey").as("p_partkey"), col("p_brand"),
        (col("ps_costcents").cast("double") / 100.0).as("supplycost"))
  }

  /** TPC-H Q11 shape (important stock) over the [[PartSupp]] fixture:
    * per-part inventory value within one nation, kept iff above a fixed
    * fraction of the nation's TOTAL value — the scalar-threshold
    * subquery. Plans as ONE aggregate over the nation-filtered fixture
    * (the nation filter broadcasts into the supplier dimension), whose
    * small output feeds both a 1-row total (broadcast → map-side HAVING)
    * and the result rows: the fixture is scanned once, the threshold is
    * never recomputed per group. Values are exact integer cents
    * (cost × qty ≤ 10^9 per row, summed in BIGINT), so the > boundary
    * cannot flip on double summation order. TPC-H's fixed 0.0001/SF
    * fraction needs the scale factor at query-authoring time; the
    * scale-FREE equivalent is a mean-relative threshold — keep parts
    * above 2× the mean per-part value (measured selective and non-empty
    * at sf0.001/0.01/0.1: 16/123/1666 rows).
    */
  private val q11ish = q("q_q11",
    s"""WITH ${PartSupp.sqlCte},
       v AS (SELECT ps_partkey, ps_costcents * ps_availqty AS val_cents
             FROM partsupp
             JOIN supplier ON s_suppkey = ps_suppkey
             JOIN nation ON n_nationkey = s_nationkey
             JOIN region ON r_regionkey = n_regionkey
             WHERE r_name = 'EUROPE'),
       g AS (SELECT ps_partkey, SUM(val_cents) AS cents FROM v GROUP BY ps_partkey),
       t AS (SELECT SUM(cents) AS total, CAST(COUNT(*) AS BIGINT) AS cnt FROM g)
       SELECT ps_partkey, CAST(cents AS DOUBLE) / 100.0 AS value
       FROM g CROSS JOIN t
       WHERE CAST(cents AS DOUBLE) > CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE) * 2.0""") { (s, d) =>
    val euroSup = broadcast(Tables.df(s, d, "supplier")
      .join(broadcast(Tables.df(s, d, "nation")
          .join(broadcast(Tables.df(s, d, "region")
              .where(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey"))
    val g = graft.operators.Materialize.once(
      PartSupp.df(s, d)
        .join(euroSup, col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_costcents") * col("ps_availqty")).as("cents")))
    val t = g.agg(sum(col("cents")).as("total"), count(lit(1)).as("cnt"))
    g.crossJoin(broadcast(t))
      .where(col("cents").cast("double") >
        col("total").cast("double") / col("cnt").cast("double") * 2.0)
      .select(col("ps_partkey"), (col("cents").cast("double") / 100.0).as("value"))
  }

  /** TPC-H Q20 shape (excess-stock suppliers; partsupp-free adaptation):
    * suppliers who shipped more than 15% of some red part's total
    * quantity (threshold chosen so the result is non-empty at every
    * test SF — parts have 16-36 suppliers, so shares top out near 0.2).
    * The aggregate-threshold IN subquery plans as ONE
    * (part, supplier) aggregate, a part-level window over that aggregate's
    * (already small) output for the per-part total — no second fact scan —
    * and a left-semi join into supplier. The window re-shuffles only
    * aggregated rows, never lineitem.
    */
  private val q20ish = q("q_q20",
    """WITH ps AS (SELECT l_partkey, l_suppkey,
                          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
                   FROM lineitem JOIN part ON l_partkey = p_partkey
                   WHERE p_name LIKE 'red%'
                   GROUP BY l_partkey, l_suppkey),
       w AS (SELECT l_suppkey, CAST(supp_qty AS DOUBLE) AS sq,
                    CAST(SUM(supp_qty) OVER (PARTITION BY l_partkey) AS DOUBLE) AS pq
             FROM ps)
       SELECT s_suppkey, s_name FROM supplier
       WHERE s_suppkey IN (SELECT l_suppkey FROM w WHERE sq > CAST(0.15 AS DOUBLE) * pq)""") { (s, d) =>
    val ps = Tables.df(s, d, "lineitem")
      .join(broadcast(Tables.df(s, d, "part")
          .where(col("p_name").like("red%")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("supp_qty"))
    val byPart = Window.partitionBy(col("l_partkey"))
    val qualifying = ps
      .withColumn("pq", sum(col("supp_qty")).over(byPart).cast("double"))
      .where(col("supp_qty").cast("double") > lit(0.15) * col("pq"))
      .select("l_suppkey")
    Tables.df(s, d, "supplier").select("s_suppkey", "s_name")
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
  }

  /** TPC-H Q22 shape (wealthy customers who never placed an urgent
    * order): a global scalar average (1-row broadcast → map-side filter,
    * computed once) composed with a NOT EXISTS anti join — the only
    * fact-sized shuffle is the anti join on custkey. Adapted to this
    * dataset: grouping key is c_nationkey (no phone column), and the
    * anti-join build side is priority-filtered (every customer here has
    * SOME order, so the literal Q22 predicate would be vacuous).
    */
  private val q22ish = q("q_q22",
    """WITH ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*) AS avg_bal
                   FROM customer WHERE c_acctbal > 0)
       SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
       FROM customer, ab
       WHERE c_acctbal > avg_bal
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')
       GROUP BY c_nationkey""") { (s, d) =>
    val cust = Tables.df(s, d, "customer")
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    cust.select("c_custkey", "c_nationkey", "c_acctbal")
      .crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(Tables.df(s, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
  }

  /** TPC-H Q5 shape (local-supplier volume): revenue from lineitems whose
    * supplier sits in the CUSTOMER's nation, for one region and year. The
    * n1 = n2 correlation rides the supplier join as a residual equality on
    * the already-joined customer nation — no extra shuffle. Join order is
    * dimension-first (region→nation→customer→orders prune before lineitem,
    * the q_revenue_by_nation discipline); supplier broadcasts, so the only
    * fact-sized exchange is the orderkey join.
    */
  private val q5full = q("q_q5",
    """SELECT n_name,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    val asiaNations = broadcast(Tables.df(s, d, "nation")
      .join(broadcast(Tables.df(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select("n_nationkey", "n_name"))
    val custF = Tables.df(s, d, "customer")
      .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val ordF = Tables.df(s, d, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .join(custF, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_nationkey", "n_name")
    Tables.df(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"))
  }

  /** TPC-H Q7 shape (volume shipping between two nations): the two-alias
    * nation join — supplier nation and customer nation resolve through the
    * SAME broadcast dimension under different aliases, and the symmetric
    * pair predicate is evaluated map-side after both broadcasts. Only the
    * orderkey join shuffles fact-sized data; the year split is a plain
    * projection of the shipdate.
    */
  private val q7ish = q("q_q7",
    """SELECT supp_nation, cust_nation, l_year,
              CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS volume
             FROM lineitem
             JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN nation n1 ON s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
                 OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
       GROUP BY supp_nation, cust_nation, l_year""") { (s, d) =>
    val nations = Tables.df(s, d, "nation").select("n_nationkey", "n_name")
      .where(col("n_name").isin("NATION_13", "NATION_19"))
    // both nation legs pre-filtered to the pair: customers/suppliers of
    // other nations drop BEFORE their joins, and the pair predicate only
    // rejects the two same-nation combinations at the end
    val custF = Tables.df(s, d, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(nations.withColumnRenamed("n_name", "cust_nation")),
        col("c_nationkey") === col("n_nationkey")).drop("n_nationkey", "c_nationkey")
    val ordF = Tables.df(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(custF, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_nationkey")
          .join(broadcast(nations.withColumnRenamed("n_name", "supp_nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")),
        col("l_suppkey") === col("s_suppkey"))
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))), 2)
        .cast("double").as("revenue"))
  }

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's volume in one part type, by year — the conditional-sum /
    * total-sum ratio computed in a SINGLE aggregation pass (two decimal
    * sums over the same rows, divided after the exact rounding), never two
    * scans or a self-join. Numerator selection is a map-side CASE on the
    * broadcast-resolved supplier nation.
    */
  private val q8ish = q("q_q8",
    """SELECT o_year,
              CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(20,6)) END), 2) AS DOUBLE)
                / CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS mkt_share
       FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(20,6)) AS volume,
                    n2.n_name AS supp_nation
             FROM lineitem
             JOIN part ON p_partkey = l_partkey
             JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             JOIN nation n1 ON c_nationkey = n1.n_nationkey
             JOIN region ON n1.n_regionkey = r_regionkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN nation n2 ON s_nationkey = n2.n_nationkey
             WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
               AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
       GROUP BY o_year""") { (s, d) =>
    val vol = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    val asiaNationKeys = broadcast(Tables.df(s, d, "nation")
      .join(broadcast(Tables.df(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA").select("n_nationkey"))
    val custF = Tables.df(s, d, "customer").select("c_custkey", "c_nationkey")
      .join(asiaNationKeys, col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select("c_custkey")
    val ordF = Tables.df(s, d, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(custF, col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_orderdate")
    val econParts = broadcast(Tables.df(s, d, "part")
      .where(col("p_type") === "ECONOMY").select("p_partkey"))
    Tables.df(s, d, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(econParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_nationkey")
          .join(broadcast(Tables.df(s, d, "nation").select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg((round(sum(when(col("supp_nation") === "NATION_2", vol.cast("decimal(20,6)"))
          .otherwise(lit(0).cast("decimal(20,6)"))), 2).cast("double") /
        round(sum(vol.cast("decimal(20,6)")), 2).cast("double")).as("mkt_share"))
  }

  /** TPC-H Q9 shape (product-type profit by nation and year; adapted —
    * this dataset has no partsupp/ps_supplycost, so profit is the
    * discounted revenue). The part-name filter broadcasts and prunes the
    * fact first; supplier nation resolves through a broadcast chain; the
    * only fact-sized shuffles are the orderkey join and the final
    * (nation, year) aggregate.
    */
  private val q9ish = q("q_q9",
    """SELECT n_name AS nation,
              CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_profit
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN orders ON o_orderkey = l_orderkey
       WHERE p_name LIKE '%bolt%'
       GROUP BY n_name, o_year""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    Tables.df(s, d, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.df(s, d, "part")
          .where(col("p_name").like("%bolt%")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(Tables.df(s, d, "supplier").select("s_suppkey", "s_nationkey")
          .join(broadcast(Tables.df(s, d, "nation").select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.df(s, d, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(round(sum(rev), 2).cast("double").as("sum_profit"))
  }

  /** TPC-H Q12 shape (priority-class line counts; adapted — no l_shipmode
    * or commit/receipt dates here, so the class split keys on
    * l_returnflag and the date window on l_shipdate): the
    * conditional-count aggregation — two CASE sums in ONE pass over the
    * joined fact, the canonical "pivot without a pivot" shape.
    */
  private val q12ish = q("q_q12",
    """SELECT l_returnflag,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l_returnflag""") { (s, d) =>
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.df(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
      .join(Tables.df(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(isHigh, 1).otherwise(0)).as("high_line_count"),
        sum(when(!isHigh, 1).otherwise(0)).as("low_line_count"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): three
    * brand/size/quantity conjunctions OR'd across ONE partkey equi-join.
    * The per-side envelopes of the disjunction (size ≤ 15, quantity ≤ 30)
    * are pushed below the join explicitly — the parquet scans prune rows
    * no disjunct can accept — and the exact OR evaluates as the join
    * residual, never a BroadcastNestedLoopJoin.
    */
  private val q19ish = q("q_q19",
    """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""") { (s, d) =>
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(8,4)") - col("l_discount").cast("decimal(8,4)"))
    def disjunct(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    Tables.df(s, d, "lineitem")
      .where(col("l_quantity").between(1, 30))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.df(s, d, "part")
          .where(col("p_size").between(1, 15) &&
            col("p_brand").isin("Brand#12", "Brand#23", "Brand#24"))
          .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .where(disjunct("Brand#12", 5, 1, 11) ||
        disjunct("Brand#23", 10, 10, 20) ||
        disjunct("Brand#24", 15, 20, 30))
      .agg(round(sum(rev), 2).cast("double").as("revenue"))
  }

  /** GROUP BY ROLLUP: hierarchical subtotals in one pass. Spark plans an
    * Expand (rows × grouping-set count = 3 here) feeding ONE hash
    * aggregate — at 100 TB that multiplier is the cost dial: rollup over
    * n columns expands n+1×, so push the detail filter below and keep the
    * grouping column list short.
    */
  private val rollupQ = q("q_rollup",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** GROUP BY CUBE: all 2^n grouping sets in one Expand+aggregate pass
    * (4 sets here). Same scale caveat as rollup, squared: the Expand
    * multiplier is 2^n, so cube is for LOW-cardinality dimension pairs.
    */
  private val cubeQ = q("q_cube",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** Pivot with an EXPLICIT value list: compiles to one conditional-sum
    * aggregation pass (the q_q12 shape under the hood — no Expand, no
    * second scan). Always pass the value list at scale: the implicit
    * form runs a distinct-collect job on the pivot column first.
    */
  private val pivotQ = q("q_pivot",
    """SELECT l_returnflag,
              CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
              CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
  }

  /** Ranking/distribution window-function breadth in ONE window pass:
    * ntile, percent_rank, cume_dist, first_value, lead share a single
    * (partition, order) spec, so Spark plans ONE sort+Window operator —
    * five outputs for one shuffle. percent_rank/cume_dist are integer
    * ratios cast to double (engine-exact); the order key carries the
    * unique event_id tiebreak so every function is deterministic.
    */
  private val windowStatsQ = q("q_window_stats",
    """SELECT event_id,
              CAST(ntile(4) OVER w AS INTEGER) AS quartile,
              CAST(percent_rank() OVER w AS DOUBLE) AS pr,
              CAST(cume_dist() OVER w AS DOUBLE) AS cd,
              first_value(event_type) OVER w AS first_type,
              CAST(lead(event_id, 1) OVER w AS BIGINT) AS next_event
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.eventsNs(s, d)
      .select(col("event_id"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("event_type")).over(w).as("first_type"),
        lead(col("event_id"), 1).over(w).as("next_event"))
  }

  /** GROUP BY GROUPING SETS with an explicit (non-hierarchical) set list
    * — the general form rollup/cube specialize. Expand multiplier =
    * set count (2 here), same scale dial as q_rollup.
    */
  private val groupingSetsQ = q("q_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** RANGE window frame (time-valued, not row-counted): each event's
    * trailing-hour value sum. Peers at the same timestamp aggregate
    * identically by definition, so no tiebreak column is needed — the
    * frame is value-bounded, which is what makes it deterministic AND
    * what a sliding time-window aggregation over 100 TB of events needs
    * (a rows-frame would be load-order-dependent).
    */
  private val windowRangeQ = q("q_window_range",
    """SELECT event_id,
              CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER
                (PARTITION BY user_id ORDER BY tsu
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_value
       FROM (SELECT event_id, user_id, value, epoch_ns(ts) // 1000 AS tsu FROM events)""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("tsu"))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.eventsNs(s, d)
      .select(col("event_id"), col("user_id"), col("value"), expr("ts DIV 1000").as("tsu"))
      .select(col("event_id"),
        sum(col("value").cast("decimal(28,4)")).over(w).cast("double").as("hour_value"))
  }

  private val windowLagQ = q("q_window_lag",
    """SELECT event_id,
              lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       FROM events""",
    bench = true) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.eventsNs(s, d)
      .select(col("event_id"), lag(col("event_type"), 1).over(w).as("prev_type"))
  }

  private val windowRunningQ = q("q_window_running",
    """SELECT event_id,
              CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
       FROM events""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsNs(s, d)
      .select(col("event_id"),
        sum(col("value").cast("decimal(28,4)")).over(w).cast("double").as("running_value"))
  }

  private val eventsAggQ = q("q_events_agg",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
       FROM events GROUP BY event_type""") { (s, d) =>
    Tables.eventsNs(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("total_value"))
  }

  val relational: Seq[QueryDef] = Seq(
    loadProject, filterQ, mapQ, mapcatQ, removeQ, rankQ, rankTiesQ, rankDenseQ,
    sortQ, takeQ, sampleQ, sampleHashQ, sampleFixedQ, sampleWeightedQ, returnQ, selfJoinQ,
    distinctQ, unionQ, concatQ, intersectionQ, intersectionMultisetQ,
    differenceQ, differenceMultisetQ,
    joinInnerQ, joinSaltedQ, joinLeftQ, joinRightQ, joinFullQ, joinSaltedFullQ,
    joinNilsQ, joinNilsDefaultQ,
    filterByQ, removeByQ, cogroupQ, cogroup3Q, cogroup4Q, cogroup3FoldQ, groupByQ, groupStatsQ, topByQ,
    reduceQ, foldAllQ, intoQ, avgFoldQ, foldDistinctQ, foldAvgLibQ, foldSortTakeQ,
    foldJuxtQ,
    q1, q5ish, q3ish, q6, q10ish, q14ish, q18ish, q4ish, q16ish, q21ish, q15ish,
    q13ish, q17ish, q2ish, q11ish, q20ish, q22ish, q5full, q7ish, q8ish, q9ish,
    q12ish, q19ish,
    rollupQ, cubeQ, pivotQ, groupingSetsQ, windowRangeQ,
    windowLagQ, windowRunningQ, windowStatsQ, eventsAggQ)

  val all: Seq[QueryDef] =
    relational ++ IoQueries.all ++ ExtQueries.all ++ CurationQueries.all ++
      SignalQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(qd => qd.name -> qd.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(qd => qd.oracle.map(qd.name -> _)).toMap
}
