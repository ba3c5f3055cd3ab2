package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: ORGANIC-GROWTH scale corpus — ×`reps` the sf0.1 warehouse
  * by adding FRESH entities sampled from the empirical distributions,
  * instead of [[ScaleSf1]]'s key-shifted replication.
  *
  * Why a second generator: replication multiplies every itemset
  * support, shingle overlap, and vector-duplicate count by exactly
  * `reps`, which (a) blew the q186 Apriori output to 1.6M rules at sf1
  * because the fixed min-support stopped pruning, and (b) makes every
  * "10× data" scaling claim milder than real growth would be (the
  * round-10 verdict's top residual). Organic growth adds NEW keys with
  * PRESERVED distributions, the way a real warehouse accretes:
  *
  *  - customer: fresh keys, attributes bootstrapped from hash-chosen
  *    donors (joint (nationkey, mktsegment, acctbal) preserved), names
  *    regenerated from the new key;
  *  - part/supplier: the catalog grows ×reps as `reps-1` fresh "market
  *    spaces" mirroring the original assortment (TPC-H itself scales
  *    the catalog with SF); names/keys fresh, attribute structure kept;
  *  - orders/lineitem: fresh BASKETS — each new order copies a
  *    hash-chosen donor basket's composition and maps its items into
  *    one hash-chosen market space, so within-basket co-occurrence
  *    structure is preserved while per-pair supports stay O(original)
  *    (basket count ×10 over a catalog ×10) — the threshold prunes;
  *  - events: fresh users cloning a donor user's behavior with a
  *    per-user time shift and fresh event ids (per-user state size
  *    unchanged, stream volume ×reps);
  *  - documents: fresh token-salad texts from two same-lang donors
  *    (unigram/vocab/length distributions preserved, long-shingle
  *    overlap destroyed), plus planted exact/near duplicates at the
  *    sf0.1 empirical RATE so dedup structure grows linearly — the
  *    measured 8-token-shingle pair census is 25 (sf0.01) → 256
  *    (sf0.1), i.e. the driver's own generator grows dups linearly;
  *  - embeddings: fresh vectors from the per-label Gaussian fit
  *    (centroid + per-coordinate residual std, then normalized) — the
  *    sf0.1 geometry is near-orthogonal noise with a whisper of label
  *    signal (same-label mean cos 0.004), so in-distribution sampling
  *    is the faithful organic model; no planting (the ≥0.4 cosine
  *    pairs at sf0.1 are chance-tail, which fresh sampling reproduces).
  *
  * Everything is derived with hash-chained pseudo-randomness
  * (xxhash64 / seeded JVM LCGs keyed on the NEW key), so the corpus is
  * deterministic under any partitioning and re-run.
  *
  * Usage: runMain graft.tools.ScaleOrganic [srcDir] [outDir] [reps]
  */
object ScaleOrganic {

  /** Hash-chained pick in [0, n) — deterministic, partition-independent. */
  private def pick(key: org.apache.spark.sql.Column, salt: Int, n: Long) =
    pmod(xxhash64(key, lit(salt)), lit(n))

  def main(args: Array[String]): Unit = {
    val src  = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out  = args.lift(1).getOrElse("/tmp/sf1organic")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()
    build(spark, src, out, reps)
    spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String, reps: Int): Unit = {
    import spark.implicits._

    val W = ScaleSf1.writeSingle _

    // ---------------------------------------------------- fixed dims
    for (t <- Seq("region", "nation"))
      W(spark.read.parquet(s"$src/$t.parquet"), out, t)

    // ---------------------------------------------------- customer
    // fresh keys nCust..reps*nCust-1, attributes bootstrapped from a
    // hash-chosen donor row (sampling rows uniformly = sampling the
    // empirical joint distribution), name regenerated from the key
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val nCust = cust.count()
    val freshCust = spark.range(nCust, reps.toLong * nCust)
      .withColumn("donor", pick(col("id"), 101, nCust))
      .join(cust.withColumnRenamed("c_custkey", "donor"), Seq("donor"))
      .select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    W(cust.unionByName(freshCust.select(cust.columns.map(col).toSeq: _*)),
      out, "customer")

    // ---------------------------------------------------- catalog
    // reps-1 fresh market spaces mirroring the original assortment:
    // new part r*nPart+i carries part i's attributes (a new market's
    // catalog mirrors the assortment structure), supplier names track
    // their new key
    val part = spark.read.parquet(s"$src/part.parquet")
    val nPart = part.count()
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val nSupp = supp.count()
    W((0 until reps).map { r =>
      if (r == 0) part
      else part.withColumn("p_partkey", col("p_partkey") + lit(r * nPart))
    }.reduce(_ unionAll _), out, "part")
    W((0 until reps).map { r =>
      if (r == 0) supp
      else supp
        .withColumn("s_suppkey", col("s_suppkey") + lit(r * nSupp))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }.reduce(_ unionAll _), out, "supplier")

    // ---------------------------------------------------- orders
    // fresh baskets: order (reps-1)*nOrd new keys, each copying a
    // hash-chosen donor order's (status, priority, totalprice, date)
    // and sampling a customer uniformly over the GROWN customer space
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val nOrd = ord.count()
    val freshKeys = spark.range(nOrd, reps.toLong * nOrd)
      .select(col("id").as("new_okey"),
        pick(col("id"), 201, nOrd).as("donor_okey"),
        pick(col("id"), 202, reps.toLong * nCust).as("new_cust"),
        // one market space per BASKET: keeps within-basket co-purchase
        // structure while spreading supports over the ×reps catalog
        pick(col("id"), 203, reps.toLong).as("space"))
    val freshOrd = freshKeys
      .join(ord.withColumnRenamed("o_orderkey", "donor_okey"), Seq("donor_okey"))
      .select(col("new_okey").as("o_orderkey"), col("new_cust").as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    W(ord.unionByName(freshOrd.select(ord.columns.map(col).toSeq: _*)),
      out, "orders")

    // ---------------------------------------------------- lineitem
    // fresh baskets: size and row shape (linenumber, quantities,
    // prices, flags, dates) from the donor basket; the ITEMS are
    // resampled i.i.d. from the empirical item-popularity distribution
    // (sampling lineitem ROWS uniformly = sampling parts by frequency)
    // and mapped into the basket's market space. Copying donor item
    // SETS is exactly what must be avoided: ~9 copies of each donor
    // basket across 10 spaces puts ≥2 identical baskets in some space
    // for 23% of donors (Binomial(9, 0.1)), manufacturing ~3.2M
    // support-2 pairs that exist nowhere in the organic model — the
    // sf0.1 baskets are themselves popularity-i.i.d. (890k of its
    // ~894k observed co-purchase pairs occur exactly once), so
    // itemwise resampling IS the distribution-preserving growth.
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val nLi = li.count()
    val liIdx = li.withColumn("item_pick",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("l_orderkey", "l_linenumber")).cast("long") - 1)
      .select(col("item_pick"), col("l_partkey").as("src_partkey"),
        col("l_suppkey").as("src_suppkey"))
    val freshLi = freshKeys
      .join(li.withColumnRenamed("l_orderkey", "donor_okey"), Seq("donor_okey"))
      .withColumn("item_pick",
        pmod(xxhash64(col("new_okey"), col("l_linenumber"), lit(204)), lit(nLi)))
      .join(liIdx, Seq("item_pick"))
      .select(col("new_okey").as("l_orderkey"),
        (col("src_partkey") + col("space") * lit(nPart)).as("l_partkey"),
        (col("src_suppkey") + col("space") * lit(nSupp)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    W(li.unionByName(freshLi.select(li.columns.map(col).toSeq: _*)),
      out, "lineitem")

    // ---------------------------------------------------- events
    // fresh users r*nUser+u clone donor user u's event sequence with a
    // per-(user, cohort) time shift (gaps — hence sessions, funnels,
    // per-user state — preserved exactly) and fresh event ids
    val ev = graft.tables.Tables.events(spark, src) // ns ts normalized once
    val nEv = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
    val nUser = ev.agg(max(col("user_id"))).head.getLong(0) + 1L
    W((0 until reps).map { r =>
      if (r == 0) ev
      else {
        val shiftSecs = pmod(xxhash64(col("user_id"), lit(301 + r)), lit(86400L))
        ev.withColumn("event_id", col("event_id") + lit(r * nEv))
          .withColumn("user_id", col("user_id") + lit(r * nUser))
          .withColumn("ts",
            timestamp_micros(unix_micros(col("ts")) + shiftSecs * lit(1000000L)))
      }
    }.reduce(_ unionAll _), out, "events")

    // ---------------------------------------------------- documents
    // per fresh doc (donor i keeps its lang/source): 0.2% exact copy of
    // a hash-chosen same-lang doc, 4.3% near-dup (donor text, ~10% of
    // tokens substituted), else token-salad of TWO same-lang donors
    // (unigram + length preserved, shingle overlap destroyed). Planted
    // rate ~4.5% of 45k fresh docs ≈ 2k new dup pairs — linear growth
    // over sf0.1's 256-pair census, matching the driver's own slope.
    val docs = spark.read.parquet(s"$src/documents.parquet").cache()
    val nDoc = docs.count()
    // lang-keyed donor pool, broadcast once: (lang -> texts), ordered
    // by doc_id so the pool indexing is run-to-run deterministic
    val byLang: Map[String, Array[String]] =
      docs.select("doc_id", "lang", "text").orderBy("doc_id")
        .as[(Long, String, String)].collect()
        .groupBy(_._2).map { case (l, ts) => l -> ts.sortBy(_._1).map(_._3) }
    val vocab: Array[String] =
      byLang.values.flatten.flatMap(_.split(" ")).toSet.toArray.sorted
    val bcLang = spark.sparkContext.broadcast(byLang)
    val bcVocab = spark.sparkContext.broadcast(vocab)
    val genText = udf { (newId: Long, lang: String, donorText: String) =>
      val pool = bcLang.value(lang)
      val rnd = new java.util.Random(newId * 2654435761L + 17)
      def pickText() = pool(rnd.nextInt(pool.length))
      val roll = rnd.nextDouble()
      if (roll < 0.002) pickText() // exact duplicate
      else if (roll < 0.045) { // near-dup: ~10% token substitution
        val v = bcVocab.value
        donorText.split(" ").map { t =>
          if (rnd.nextDouble() < 0.10) v(rnd.nextInt(v.length)) else t
        }.mkString(" ")
      } else { // fresh token-salad of two donors, length of the first
        val a = pickText().split(" ")
        val b = pickText().split(" ")
        // keys precomputed: sortBy's Ordering re-evaluates its key per
        // COMPARISON, so a stateful rnd key breaks sort transitivity
        val mixed = (a ++ b).map(t => (rnd.nextLong(), t))
        mixed.sortBy(_._1).take(a.length).map(_._2).mkString(" ")
      }
    }
    val freshDocs = (1 until reps).map { r =>
      docs.withColumn("doc_id", col("doc_id") + lit(r * nDoc))
        .withColumn("text", genText(col("doc_id"), col("lang"), col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionAll _)
    W(docs.unionByName(freshDocs.select(docs.columns.map(col).toSeq: _*)),
      out, "documents")

    // ---------------------------------------------------- embeddings
    // per-label Gaussian fit of the sf0.1 geometry: centroid + per-
    // coordinate residual std, fresh vector = normalize(mu + sigma*z)
    // with z from a seeded LCG — in-distribution, zero donor overlap
    val emb = spark.read.parquet(s"$src/embeddings.parquet").cache()
    val nVec = emb.count()
    val fit: Map[Int, (Array[Double], Array[Double])] =
      emb.select("vec_id", "label", "embedding").orderBy("vec_id")
        .as[(Long, Int, Array[Float])].collect()
        .groupBy(_._2).map { case (l, rows) =>
          val vs = rows.sortBy(_._1).map(_._3) // pinned sum order
          val d = vs.head.length
          val mu = Array.tabulate(d)(j => vs.map(_(j).toDouble).sum / vs.length)
          val sd = Array.tabulate(d) { j =>
            val x = vs.map(v => v(j) - mu(j))
            math.sqrt(x.map(e => e * e).sum / x.length)
          }
          l -> (mu, sd)
        }
    val bcFit = spark.sparkContext.broadcast(fit)
    val genVec = udf { (newId: Long, label: Int) =>
      val (mu, sd) = bcFit.value(label)
      val rnd = new java.util.Random(newId * 6364136223846793005L + 1442695040888963407L)
      val v = Array.tabulate(mu.length)(j => mu(j) + sd(j) * rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val freshEmb = (1 until reps).map { r =>
      emb.withColumn("vec_id", col("vec_id") + lit(r * nVec))
        .withColumn("embedding", genVec(col("vec_id"), col("label")))
    }.reduce(_ unionAll _)
    W(emb.unionByName(freshEmb.select(emb.columns.map(col).toSeq: _*)),
      out, "embeddings")

    docs.unpersist()
    emb.unpersist()
    println(s"[scaleorganic] wrote $out (reps=$reps, all tables)")
  }
}
