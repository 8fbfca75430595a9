package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-experiment data generator (VERDICT r7 #5): replicate an sf dir
  * R× with per-copy key shifts, preserving schema, value distributions,
  * and referential integrity (copy i's orders reference copy i's
  * customers — each fact FK shifts by the SAME stride as its dimension
  * PK). Dimension tables with scale-invariant cardinality (region,
  * nation) are copied untouched, mirroring how real corpora grow: more
  * facts, same geography. Text/embedding payloads are NOT perturbed, so
  * each document/vector gains 9 exact twins — deliberately: a 10×
  * crawl IS mostly duplicates, and the dedup/near-dup operators' scale
  * behavior under real duplicate mass (df-caps engaging, cluster sizes
  * growing) is exactly what the experiment wants to observe.
  *
  * Output goes under target/ (gitignored scratch): this is a
  * measurement tool, not test data — correctness oracles keep running
  * against the driver-owned /root/testdata dirs.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val flags = args.drop(2).filter(_.startsWith("--")).toSet
    val r = args.drop(2).filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(10)
    // --perturb (r14, VERDICT r13 #1): make each copy's PAYLOAD distinct,
    // not just its keys, so the decade measures the axis the exact-twin
    // collapse valves cannot absorb — genuinely new content.
    //  - documents: every token of copy k ≥ 1 is prefixed "c<k>x", so
    //    copies share ZERO shingles/tokens with each other or the base:
    //    intra-copy pair structure (jaccard, containment, winnowing,
    //    minhash/simhash signatures' collision structure) is preserved
    //    exactly, cross-copy text similarity is exactly 0, and the
    //    distinct shingle vocabulary grows r× — the real "more crawl"
    //    shape. n_chars is recomputed to keep the n_chars = length(text)
    //    generator invariant.
    //  - embeddings: copy k's vectors are circularly dim-rotated by
    //    k mod 64. A coordinate permutation preserves every intra-copy
    //    inner product and norm BIT-FOR-BIT (the same multiplicands sum
    //    in a different order is avoided: rotation permutes components
    //    identically for both vectors of a pair, so the elementwise
    //    products are equal numbers — only their fold order changes,
    //    which the operators fix by dim order... hence intra-copy
    //    cosines are equal up to the usual in-order fold on permuted
    //    terms — NOT bit-pinned, but the pair SET at any threshold far
    //    from a boundary is unchanged), while cross-copy cosines are
    //    ~N(0, 1/√64) pseudo-random — distinct content, dup factor ≈ 1.
    val perturb = flags.contains("--perturb")
    val spark = Sessions.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    // key strides, computed from the source so copies never collide
    val kCust = stride(read("customer"), "c_custkey")
    val kSupp = stride(read("supplier"), "s_suppkey")
    val kPart = stride(read("part"), "p_partkey")
    val kOrd = stride(read("orders"), "o_orderkey")
    val kEvt = stride(read("events"), "event_id")
    val kUser = stride(read("events"), "user_id")
    val kDoc = stride(read("documents"), "doc_id")
    val kVec = stride(read("embeddings"), "vec_id")

    // --only=documents,embeddings (r17): write just the named fact
    // tables (dimension stubs region/nation always ride along) — the
    // sfp300 spot-probe needs two tables and the disk can't hold a full
    // third decade next to sfp100.
    val only: Set[String] = flags.find(_.startsWith("--only="))
      .map(_.stripPrefix("--only=").split(",").map(_.trim).toSet)
      .getOrElse(Set.empty)
    def write(df: DataFrame, t: String): Unit = {
      if (only.nonEmpty && !only(t) && t != "region" && t != "nation") {
        System.err.println(s"[scaleup] $t: skipped (--only)")
        return
      }
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    /** R copies with `shifts` (column -> stride) applied per copy. */
    def scaled(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val withCopy = df.withColumn("__copy",
        explode(sequence(lit(0L), lit(r - 1L))))
      shifts.foldLeft(withCopy) { case (d, (c, k)) =>
        d.withColumn(c, col(c) + $"__copy" * k)
      }.drop("__copy")
    }

    /** Like scaled(), but keeps __copy visible for payload perturbation. */
    def scaledKeep(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val withCopy = df.withColumn("__copy",
        explode(sequence(lit(0L), lit(r - 1L))))
      shifts.foldLeft(withCopy) { case (d, (c, k)) =>
        d.withColumn(c, col(c) + $"__copy" * k)
      }
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    // --perturb regenerates c_name from the SHIFTED key (the TPC-H
    // generator formula), so copies carry genuinely distinct names —
    // the distinct-content axis for the edit-distance join, where the
    // twin valve cannot collapse anything. Twin mode keeps payloads
    // byte-identical (names duplicate r-fold), the valve axis.
    val cust =
      if (!perturb) scaled(read("customer"), "c_custkey" -> kCust)
      else scaled(read("customer"), "c_custkey" -> kCust)
        .withColumn("c_name",
          concat(lit("Customer#"), lpad($"c_custkey".cast("string"), 9, "0")))
    write(cust, "customer")
    write(scaled(read("supplier"), "s_suppkey" -> kSupp), "supplier")
    write(scaled(read("part"), "p_partkey" -> kPart), "part")
    // --perturb (r15, VERDICT r14 gap #4): salt the orders/lineitem
    // PAYLOAD columns too — keys already shift per copy, but min/max
    // skipping stats, z-order curves and MERGE payloads faced r-fold
    // duplicated VALUES on the twin corpora. Cent-scale price offsets
    // (copy·0.01, ≤ +1.00 at r = 100) and sub-day timestamp offsets
    // (copy mod 86400 seconds — the generator's date-valued midnights
    // stay inside their calendar day, so date-range selectivities are
    // unchanged) make every copy's payload distinct without moving any
    // distribution the queries' filters key on. Copy 0 is untouched.
    val ords =
      if (!perturb) scaled(read("orders"),
        "o_orderkey" -> kOrd, "o_custkey" -> kCust)
      else scaledKeep(read("orders"),
          "o_orderkey" -> kOrd, "o_custkey" -> kCust)
        .withColumn("o_totalprice",
          $"o_totalprice" + $"__copy".cast("double") * 0.01)
        .withColumn("o_orderdate", expr(
          "timestampadd(SECOND, CAST(__copy % 86400 AS INT), o_orderdate)"))
        .drop("__copy")
    write(ords, "orders")
    val lis =
      if (!perturb) scaled(read("lineitem"), "l_orderkey" -> kOrd,
        "l_partkey" -> kPart, "l_suppkey" -> kSupp)
      else scaledKeep(read("lineitem"), "l_orderkey" -> kOrd,
          "l_partkey" -> kPart, "l_suppkey" -> kSupp)
        .withColumn("l_extendedprice",
          $"l_extendedprice" + $"__copy".cast("double") * 0.01)
        .withColumn("l_shipdate", expr(
          "timestampadd(SECOND, CAST(__copy % 86400 AS INT), l_shipdate)"))
        .drop("__copy")
    write(lis, "lineitem")
    write(scaled(read("events"),
      "event_id" -> kEvt, "user_id" -> kUser), "events")

    val docs =
      if (!perturb) scaled(read("documents"), "doc_id" -> kDoc)
      else scaledKeep(read("documents"), "doc_id" -> kDoc)
        .withColumn("text",
          when($"__copy" === 0L, $"text").otherwise(
            array_join(transform(split($"text", " "),
              t => concat(lit("c"), $"__copy", lit("x"), t)), " ")))
        .withColumn("n_chars", length($"text"))
        .drop("__copy")
    write(docs, "documents")

    val embs =
      if (!perturb) scaled(read("embeddings"), "vec_id" -> kVec)
      else {
        val dim = read("embeddings").select(size($"embedding")).head().getInt(0)
        // rotation alone collides past r = dim copies (copies k and
        // k + dim share a rotation → exact cross-copy twins; measured
        // dup = 1.52 at r = 100, which would ENGAGE the collapse valves
        // the decade exists to disengage). Compose with a per-__g sign
        // mask (__g = __copy / dim): flip dim d iff bit (d mod 63) of a
        // 63-bit window of hash(__g)'s zero-padded 64-char bit string is
        // set (chars 2..64 below). A per-copy diagonal ±1 preserves
        // every intra-copy inner product and norm exactly (both vectors
        // of a pair get the SAME flips, so elementwise products are
        // unchanged), while distinct (rotation, mask) pairs keep
        // cross-copy cosines pseudo-random — dup ≈ 1 at any r ≤ dim·2⁶³.
        // __g = 0 has mask 0, so r ≤ dim output is bit-identical to the
        // pre-fix generator (sfp10/sfp30 artifacts unaffected).
        scaledKeep(read("embeddings"), "vec_id" -> kVec)
          .withColumn("__s", ($"__copy" % dim).cast("int"))
          .withColumn("__g", ($"__copy" / dim).cast("long"))
          .withColumn("__m", lpad(bin(
            xxhash64(concat(lit("emb-sign:"), $"__g".cast("string")))),
            64, "0"))
          .withColumn("embedding",
            when($"__s" === 0, $"embedding").otherwise(concat(
              slice($"embedding", $"__s" + 1, lit(dim) - $"__s"),
              slice($"embedding", lit(1), $"__s"))))
          .withColumn("embedding",
            when($"__g" === 0L, $"embedding").otherwise(
              zip_with($"embedding",
                transform(sequence(lit(0), lit(dim - 1)),
                  d => $"__m".substr(pmod(d, lit(63)) + 2, lit(1))),
                (v, bit) => when(bit === "1", -v).otherwise(v))))
          .drop("__copy", "__s", "__g", "__m")
      }
    write(embs, "embeddings")

    if (perturb) {
      // valve-disengagement evidence for the SCALE artifact: the probes
      // the collapse valves actually consult, on the frames they consult
      val e = spark.read.parquet(s"$dst/embeddings.parquet")
      val d = spark.read.parquet(s"$dst/documents.parquet")
      val dupVec = graft.operators.DupProbe.dupFactor(
        e.select($"embedding".as("vec")), $"vec")
      val dupText = graft.operators.DupProbe.dupFactor(
        d.select($"lang", $"text"), $"lang", $"text")
      println(f"[scaleup] perturb probes: embeddings dup=$dupVec%.4f " +
        f"documents(lang,text) dup=$dupText%.4f " +
        s"(collapse threshold ${graft.operators.DupProbe.CollapseDupFactor})")
      // payload-salt evidence (r15): the storage family's min/max stats
      // face distinct VALUES, not r-fold twins — distinct/total ≈ 1.
      // Skipped under --only when orders/lineitem weren't written.
      if (only.isEmpty || (only("orders") && only("lineitem"))) {
      val o = spark.read.parquet(s"$dst/orders.parquet")
      val li = spark.read.parquet(s"$dst/lineitem.parquet")
      val oRow = o.agg(
        (countDistinct($"o_totalprice") / count(lit(1))).as("p"),
        (countDistinct($"o_orderdate") / count(lit(1))).as("d")).head
      val lRow = li.agg(
        (countDistinct($"l_extendedprice", $"l_orderkey", $"l_linenumber")
          / count(lit(1))).as("p"),
        (countDistinct($"l_shipdate") / count(lit(1))).as("d")).head
      println(f"[scaleup] payload salt: orders distinct(totalprice)/n=" +
        f"${oRow.getDouble(0)}%.4f distinct(orderdate)/n=${oRow.getDouble(1)}%.4f " +
        f"lineitem distinct(price,key,line)/n=${lRow.getDouble(0)}%.4f " +
        f"distinct(shipdate)/n=${lRow.getDouble(1)}%.4f")
      }
    }
    spark.stop()
  }
}
