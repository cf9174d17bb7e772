package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GRF-style honest causal forest (reference CH CausalForestTrainer.cpp /
  * CausalForestTree.cpp, SR causal_forest.h:54-2241; python
  * uplift.py:1898-2160).
  *
  * The reference trains by iterated aggregate passes — one SQL per depth
  * level, forest state round-tripping through a model table as JSON. The
  * Spark shape keeps the good part (level-synchronous: ONE aggregation pass
  * grows EVERY tree one level) and drops the serialization loop: forest
  * state lives on the driver between passes; rows fan out to their member
  * trees with a deterministic per-(row, tree) hash (Bernoulli
  * `sampleFraction`, honest half-split), so any executor layout reproduces
  * the same forest.
  *
  * Per level: scan → explode to (tree, row) memberships → when-chain node
  * assignment per tree → groupBy(tree, node, feature, bin, arm) histogram
  * (≤ trees·nodes·mtry·bins·2 cells — collected, not the data). Depth D,
  * any B: D+1 scans with ×B·fraction row amplification — compute, not
  * shuffle, since map-side partial aggregation collapses each partition to
  * histogram cells.
  *
  * Fidelity vs the reference: mtry is drawn PER (tree, node) — GRF's
  * per-split draw — not per level; honest leaves carry (effect, stderr)
  * from the estimation half (CausalForestTree.cpp's per-leaf
  * numerator/denominator accumulation); variable importance is the
  * Athey-Imbens gain improvement summed per feature over every split
  * (AggregateFunctionCausalForestVariableImportance.h), normalized to 1.
  */
object CausalForest {

  case class Model(trees: IndexedSeq[CausalTree.Model],
                   variableImportance: Array[Double],
                   featureNames: Seq[String]) {
    def numTrees: Int = trees.length

    /** Forest effect = average of per-tree effects (nested when-chains;
      * all codegen, no joins). */
    def effectColumn(features: Seq[Column]): Column =
      trees.map(_.effectColumn(features)).reduce(_ + _) / lit(trees.length.toDouble)

    /** Per-row forest standard error, approximating the two variance
      * sources: (a) within-leaf estimation noise, averaged over trees
      * assuming tree independence — Σ se_b²/B²; (b) between-tree
      * (half-sampling) dispersion of the point estimates — Var_b(τ_b)/B.
      * Trees share data, so (a) understates and (a)+(b) is the practical
      * calibration used here (coverage-checked in CausalTreeSpec); exact
      * GRF confidence intervals need the infinitesimal-jackknife machinery
      * the reference does not implement either. */
    def stderrColumn(features: Seq[Column]): Column = {
      val b = lit(trees.length.toDouble)
      val effs = trees.map(_.effectColumn(features))
      val ses = trees.map(_.stderrColumn(features))
      val mean = effs.reduce(_ + _) / b
      val meanSq = effs.map(e => e * e).reduce(_ + _) / b
      val withinVar = ses.map(s => s * s).reduce(_ + _) / (b * b)
      sqrt(withinVar + greatest(meanSq - mean * mean, lit(0.0)) / b)
    }

    def describeImportance(): String =
      featureNames.zip(variableImportance)
        .sortBy(-_._2)
        .map { case (n, v) => f"$n%s: $v%.4f" }.mkString("\n")

    /** Scale path for scoring: append `effectName`/`stderrName` columns.
      *
      * [[effectColumn]]/[[stderrColumn]] sum B nested when-chains inside ONE
      * expression; at the reference's cap (200 trees × 2^depth nodes,
      * uplift.py:2013-2018) the generated method exceeds the JVM's 64KB
      * limit and whole-stage codegen silently falls back to interpretation.
      * Here each tree contributes two SMALL independent expressions — its
      * leaf id (one when-chain) and an `element_at` lookup into a literal
      * per-tree (leaf → effect/stderr) array — and the forest reduction is a
      * flat sum over plain column references. Every expression stays far
      * under the method limit, nothing shuffles, no joins: scoring stays a
      * single codegen'd projection at any forest size. */
    def score(df: DataFrame, features: Seq[Column],
              effectName: String = "effect", stderrName: String = "stderr"): DataFrame = {
      val bD = lit(trees.length.toDouble)
      val leafNames = trees.indices.map(i => s"__cf_leaf_$i")
      val keep = df.columns.map(col).toIndexedSeq
      // per-row scoring work is numTrees navigations + lookups — make sure
      // a starved input does not serialize it (no-op when already parallel)
      val withLeaves = Par.ensure(df).select(keep ++ trees.zipWithIndex.map { case (tr, i) =>
        tr.leafColumn(features).as(leafNames(i))
      }: _*)
      val withLookups = withLeaves.select(keep ++ trees.zipWithIndex.flatMap { case (tr, i) =>
        Seq(element_at(typedLit(tr.effect.toSeq), col(leafNames(i)) + 1).as(s"__cf_e_$i"),
          element_at(typedLit(tr.stderr.toSeq), col(leafNames(i)) + 1).as(s"__cf_s_$i"))
      }: _*)
      val es = trees.indices.map(i => col(s"__cf_e_$i"))
      val ss = trees.indices.map(i => col(s"__cf_s_$i"))
      val meanSq = es.map(e => e * e).reduce(_ + _) / bD
      val within = ss.map(s => s * s).reduce(_ + _) / (bD * bD)
      withLookups
        .withColumn(effectName, es.reduce(_ + _) / bD)
        .withColumn(stderrName,
          sqrt(within + greatest(meanSq - col(effectName) * col(effectName), lit(0.0)) / bD))
        .drop(trees.indices.flatMap(i => Seq(s"__cf_e_$i", s"__cf_s_$i")): _*)
    }
  }

  private case class Cell(tree: Int, node: Int, feat: Int, bin: Int, t: Int,
                          cnt: Long, sum: Double)

  def fit(df: DataFrame, y: Column, treatment: Column,
          features: Seq[(String, Column)], numTrees: Int = 20,
          maxDepth: Int = 4, minNodeSize: Long = 50, bins: Int = 16,
          mtry: Int = 0, sampleFraction: Double = 0.5,
          honest: Boolean = true, seed: Long = 42L,
          criterion: String = "gradient",
          maxLocalCells: Int = 1 << 18): Model = {
    require(criterion == "gradient" || criterion == "effect",
      "criterion must be gradient (GRF pseudo-outcomes) or effect (Athey-Imbens)")
    require(features.nonEmpty && numTrees > 0)
    // the fixed node-slot stride is 2^(D+1)-1 per tree (codegen-stable
    // level passes) — exponential in depth, so bound it well above the
    // reference's depth-6 cap but before the structure literal
    // (numTrees · 2^(D+1) tuples on the driver) gets silly
    require(maxDepth >= 1 && maxDepth <= 12,
      s"maxDepth must be in [1, 12], got $maxDepth (the reference caps at 6; " +
        "deeper trees make the per-tree node array 2^(D+1) slots)")
    val k = features.size
    val useMtry = if (mtry <= 0 || mtry > k) k else mtry
    val featNames = features.map(_._1)
    val rng = new scala.util.Random(seed)
    val base0 = df.select(
      (y.cast("double").as("__y") +: treatment.cast("int").as("__t") +:
        features.zipWithIndex.map { case ((_, c), i) => c.cast("double").as(s"__f$i") }): _*)
      .filter(col("__y").isNotNull && !isnan(col("__y")))
    val rowHash = xxhash64(struct(base0.columns.toIndexedSeq.map(col): _*), lit(seed))
    // growth makes D+1 scans of a numTrees·fraction× exploded frame: the
    // input must be parallel BEFORE that amplification (A/B-measured ~30%
    // on the q42 shape; no-op on already-parallel inputs)
    val pre = Par.ensure(base0.withColumn("__rh", rowHash), Seq(col("__rh")))
    // global quantile bins once, ALL features in one pass (histogram style)
    val probs = (1 until bins).map(_.toDouble / bins).toArray
    val boundaries: Array[Array[Double]] = pre.stat
      .approxQuantile((0 until k).map(i => s"__f$i").toArray, probs, 0.01)
      .map(_.distinct.sorted)
    def binExpr(i: Int): Column = {
      val bs = boundaries(i)
      var c: Column = lit(bs.length)
      for (b <- bs.indices.reverse) c = when(col(s"__f$i") <= bs(b), b).otherwise(c)
      c
    }
    // materialize each feature's bin ONCE per row (the per-node candidate
    // arrays below reference these columns; inlining the bins-deep when
    // chain per (node, feature) multiplies codegen size by the node count)
    val base = (0 until k).foldLeft(pre) { (d, i) =>
      d.withColumn(s"__b$i", binExpr(i))
    }
    // The row→(tree, half) membership — Bernoulli(sampleFraction) per
    // (row, tree) with an honest half tag — is IDENTICAL at every level;
    // only the node assignment changes as trees grow. Explode it ONCE and
    // persist, so each level (and the estimation pass) re-scans the already
    // exploded frame instead of rebuilding a numTrees-entry membership
    // array per row per scan. Amplification is numTrees·sampleFraction×,
    // the same rows every level would touch anyway.
    val memberEntries = (0 until numTrees).map { b =>
      val u = pmod(xxhash64(col("__rh"), lit(b)), lit(1000000L)).cast("double") / 1000000.0
      val half = pmod(xxhash64(col("__rh"), lit(b + 7919)), lit(2)).cast("int")
      when(u < sampleFraction, struct(lit(b).as("tree"), half.as("half")))
        .otherwise(lit(null))
    }
    val exploded = base
      .withColumn("__th", explode(filter(array(memberEntries: _*), _.isNotNull)))
      .withColumn("__tree", col("__th.tree"))
      .withColumn("__half", col("__th.half"))
      .drop("__th", "__rh") // __rh only seeds the membership draw
    val growFrame = if (honest) exploded.filter(col("__half") === 0) else exploded
    val estFrame = if (honest) exploded.filter(col("__half") === 1) else exploded
    // Low-cardinality BINNED-design collapse (the Cells idiom,
    // guide §1.2 step 1): navigation compares raw f against bin
    // BOUNDARIES, and f <= boundaries(f)(bi) ⟺ bin(f) <= bi, so node
    // assignment — and with it every level histogram AND the estimation
    // moments — is a pure function of (tree, half, bin-vector, arm) plus
    // the y moments (growth needs Σy per cell, estimation Σy²). One
    // map-side-combined pass collects the cells; the whole depth loop and
    // the honest estimation then run in plain Scala — zero distributed
    // passes per level at any data scale (was D+1 scans of the exploded
    // frame plus its MEMORY_AND_DISK persist). Past the bound (bins^k
    // distinct vectors on many wide features) or on NaN designs, the row
    // path below is byte-identical, exploded persisted as before.
    val slim = exploded.select(col("__tree") +: col("__half") +:
      (0 until k).map(i => col(s"__b$i")) :+ col("__t") :+ col("__y"): _*)
    val forestCells = graft.stats.Cells.collectByX(slim, "__y", maxLocalCells)
    if (forestCells.isEmpty)
      exploded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

      // tree growth state
      val feat = Array.fill(numTrees)(scala.collection.mutable.ArrayBuffer(-1))
      val thr = Array.fill(numTrees)(scala.collection.mutable.ArrayBuffer(Double.NaN))
      val lch = Array.fill(numTrees)(scala.collection.mutable.ArrayBuffer(-1))
      val rch = Array.fill(numTrees)(scala.collection.mutable.ArrayBuffer(-1))
      val importance = Array.fill(k)(0.0)
      var open: Set[(Int, Int)] = (0 until numTrees).map(b => (b, 0)).toSet

      /** Append the row's current node within its member tree as `__node`.
        *
        * Codegen-bounded at the reference caps (200 trees × 2^depth nodes):
        * a per-tree dispatch when-chain would be a ~10⁴-branch expression
        * that blows the JVM method limit and silently drops to interpreted
        * evaluation. Instead the WHOLE forest structure is ONE positional
        * literal array (a codegen reference object, zero inline code)
        * indexed by tree·maxN + node, and navigation unrolls `steps` small
        * per-level projections — each a single O(1) array lookup plus a
        * feature compare, identical for every tree. */
      // structural node-count bound, FIXED for the whole fit: the slot
      // arithmetic `tree * maxN + node` inlines maxN into the generated
      // source, so a per-level max (which grows with the trees) would
      // defeat the codegen-cache reuse the fixed unroll buys
      val maxN = (1 << (maxDepth + 1)) - 1
      def withNodeCol(frame: DataFrame): DataFrame = {
        val info: Seq[(Int, Double, Int, Int)] =
          for { b <- 0 until numTrees; i <- 0 until maxN } yield
            if (i < feat(b).length && feat(b)(i) >= 0)
              (feat(b)(i), thr(b)(i), lch(b)(i), rch(b)(i))
            else (-1, 0.0, -1, -1) // leaf or padding: navigation stays put
        val infoL = typedLit(info)
        val fvals = array((0 until k).map(i => col(s"__f$i")): _*)
        // ALWAYS unroll maxDepth steps (steps past the frontier are no-ops:
        // a leaf/open node has feat -1 and navigation stays put). A fixed
        // unroll keeps the generated source IDENTICAL across levels — the
        // structure literal is a codegen reference, not inlined — so every
        // level (and every later fit in the session) reuses one compiled
        // class instead of paying janino per level; BENCHAB.json showed
        // that compile volume, not execution, was the forest's cold cost.
        val steps = maxDepth
        var d2 = frame.withColumn("__nav0", lit(0))
        for (s2 <- 0 until steps) {
          val prev = col(s"__nav$s2")
          val nfo = element_at(infoL,
            (col("__tree") * maxN + prev + 1).cast("int"))
          d2 = d2.withColumn(s"__nav${s2 + 1}",
            when(nfo.getField("_1") < 0, prev)
              .otherwise(when(
                element_at(fvals, nfo.getField("_1") + 1) <= nfo.getField("_2"),
                nfo.getField("_3")).otherwise(nfo.getField("_4"))))
        }
        d2.withColumn("__node", col(s"__nav$steps"))
          .drop((0 to steps).map(s2 => s"__nav$s2"): _*)
      }

      // bin index of each split, tracked beside thr for the cell path's
      // navigation (f <= boundaries(f)(bi) ⟺ bin(f) <= bi, so walking the
      // tree on bin vectors is EXACTLY the row path's raw-value walk)
      val thrBin = Array.fill(numTrees)(scala.collection.mutable.ArrayBuffer(-1))
      // unpacked design cells (cell path only): per cell its tree, half,
      // bin vector, arm, count and y moments — in Cells' sorted
      // order, so every driver accumulation below is deterministic
      val fc = forestCells.getOrElse(Array.empty)
      def cellNode(b: Int, binVec: Array[Int]): Int = {
        var nd = 0
        while (feat(b)(nd) >= 0)
          nd = if (binVec(feat(b)(nd)) <= thrBin(b)(nd)) lch(b)(nd) else rch(b)(nd)
        nd
      }
      def cellBins(c: graft.stats.Cells.XCell): Array[Int] =
        Array.tabulate(k)(j => c.xs(2 + j).toInt)
      /** The level histogram over the GROW half: per (tree, node, feat,
        * bin, arm) counts and Σy — from the collected cells (zero
        * distributed passes) or from one distributed aggregate. */
      def levelHist(mtryDraw: Map[(Int, Int), Array[Int]])
          : Map[(Int, Int), Array[Cell]] = forestCells match {
        case Some(_) =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int, Int, Int, Int), (Long, Double)]
          fc.foreach { c =>
            if (!honest || c.xs(1) == 0.0) {
              val b = c.xs(0).toInt
              val bv = cellBins(c)
              val nd = cellNode(b, bv)
              mtryDraw.get((b, nd)).foreach(_.foreach { f =>
                val key = (b, nd, f, bv(f), c.xs(2 + k).toInt)
                val prev = acc.getOrElse(key, (0L, 0.0))
                acc(key) = (prev._1 + c.n, prev._2 + c.sumY)
              })
            }
          }
          acc.toSeq.map { case ((b, nd, f, bi, t), (cnt, s)) =>
            Cell(b, nd, f, bi, t, cnt, s)
          }.toArray.groupBy(c => (c.tree, c.node))
        case None =>
          // per-(tree, node) candidate features as ONE positional literal
          // array (null for non-open nodes → explode drops the row),
          // mirroring withNodeCol's keying — no per-open-node when-chain,
          // so the expression stays the same size at any open-node count
          val selData: Seq[Option[Seq[Int]]] =
            for { b <- 0 until numTrees; i <- 0 until maxN } yield
              mtryDraw.get((b, i)).map(_.toSeq)
          val selL = typedLit(selData)
          val binsArr = array((0 until k).map(i => col(s"__b$i")): _*)
          // no per-level open-trees filter: its literal list would change
          // the generated source every level (ints inline into codegen),
          // and the explode below already drops rows of closed trees —
          // their (tree, node) slot in selL is null, and explode(null)
          // emits nothing. Closed trees cost only navigation arithmetic.
          withNodeCol(growFrame)
            .withColumn("__feat", explode(element_at(selL,
              (col("__tree") * maxN + col("__node") + 1).cast("int"))))
            .withColumn("__bin", element_at(binsArr, col("__feat") + 1))
            .groupBy(col("__tree").as("tree"), col("__node").as("node"),
              col("__feat").as("feat"), col("__bin").as("bin"), col("__t"))
            .agg(count(lit(1)).as("cnt"), sum(col("__y")).as("s"))
            .collect()
            .map(r => Cell(r.getAs[Int]("tree"), r.getAs[Int]("node"),
              r.getAs[Int]("feat"), r.getAs[Int]("bin"), r.getAs[Int]("__t"),
              r.getAs[Long]("cnt"), r.getAs[Double]("s")))
            .groupBy(c => (c.tree, c.node))
      }

      var depth = 0
      while (depth < maxDepth && open.nonEmpty) {
        // GRF-fidelity: an independent mtry draw per OPEN NODE (per split),
        // not per tree-level; the when-chain selects the node's candidate
        // set. Iterate `open` in sorted order so the rng stream — and thus
        // the forest — is deterministic.
        val openSorted = open.toSeq.sorted
        val mtryDraw: Map[(Int, Int), Array[Int]] = openSorted.map { bn =>
          bn -> rng.shuffle((0 until k).toList).take(useMtry).toArray
        }.toMap
        val hist = levelHist(mtryDraw)

        val nextOpen = scala.collection.mutable.Set[(Int, Int)]()
        for ((b, node) <- openSorted) {
          hist.get((b, node)).flatMap(cells =>
            bestSplitCells(cells, mtryDraw((b, node)), minNodeSize, criterion)).foreach {
            case (f, bi, improvement) =>
              importance(f) += improvement
              feat(b)(node) = f; thr(b)(node) = boundaries(f)(bi)
              thrBin(b)(node) = bi
              val l = feat(b).length
              feat(b) += -1; thr(b) += Double.NaN; lch(b) += -1; rch(b) += -1
              feat(b) += -1; thr(b) += Double.NaN; lch(b) += -1; rch(b) += -1
              thrBin(b) += -1; thrBin(b) += -1
              lch(b)(node) = l; rch(b)(node) = l + 1
              nextOpen += ((b, l)); nextOpen += ((b, l + 1))
          }
        }
        open = nextOpen.toSet
        depth += 1
      }

      // estimation pass (honest half = 1): per-(tree, leaf, arm) moments
      // including variance for honest leaf standard errors — from the
      // collected cells (Σy² rides the XCell moments; var_samp = (Σy² −
      // (Σy)²/n)/(n−1), clamped at 0 against cancellation) or from one
      // distributed aggregate over the persisted exploded membership
      val est: Map[(Int, Int, Int), (Long, Double, Double)] = forestCells match {
        case Some(_) =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int, Int), (Long, Double, Double)]
          fc.foreach { c =>
            if (!honest || c.xs(1) == 1.0) {
              val b = c.xs(0).toInt
              val nd = cellNode(b, cellBins(c))
              val key = (b, nd, c.xs(2 + k).toInt)
              val prev = acc.getOrElse(key, (0L, 0.0, 0.0))
              acc(key) = (prev._1 + c.n, prev._2 + c.sumY, prev._3 + c.sumY2)
            }
          }
          acc.map { case (key, (n, sy, syy)) =>
            val m = sy / n
            val v = if (n > 1) math.max(0.0, (syy - sy * sy / n) / (n - 1)) else 0.0
            key -> ((n, m, v))
          }.toMap
        case None =>
          withNodeCol(estFrame)
            .groupBy(col("__tree").as("tree"), col("__node").as("node"), col("__t"))
            .agg(count(lit(1)).as("cnt"), avg(col("__y")).as("m"),
              var_samp(col("__y")).as("v"))
            .collect()
            .map(r => (r.getAs[Int]("tree"), r.getAs[Int]("node"), r.getAs[Int]("__t")) ->
              (r.getAs[Long]("cnt"), r.getAs[Double]("m"),
                Option(r.getAs[Any]("v")).fold(0.0)(_.asInstanceOf[Double])))
            .toMap
      }

      val trees = (0 until numTrees).map { b =>
        val nN = feat(b).length
        val eff = Array.fill(nN)(0.0); val nArr = Array.fill(nN)(0L)
        val se = Array.fill(nN)(0.0)
        for (i <- 0 until nN if feat(b)(i) < 0) {
          (est.get((b, i, 0)), est.get((b, i, 1))) match {
            case (Some((n0, m0, v0)), Some((n1, m1, v1))) if n0 > 1 && n1 > 1 =>
              eff(i) = m1 - m0; nArr(i) = n0 + n1
              se(i) = math.sqrt(v1 / n1 + v0 / n0)
            case _ => // starved leaf keeps effect 0, se 0 (forest-averaged out)
          }
        }
        CausalTree.Model(feat(b).toArray, thr(b).toArray, lch(b).toArray,
          rch(b).toArray, eff, se, Array.fill(nN)(Double.NaN), nArr, featNames)
      }
      val impTotal = importance.sum
      val impNorm =
        if (impTotal > 0) importance.map(_ / impTotal) else importance.clone()
      Model(trees, impNorm, featNames)
    } finally {
      exploded.unpersist()
      ()
    }
  }

  /** Athey-Imbens gain over candidate features' bins. Returns
    * (feature, boundary bin, gain improvement over the parent). */
  /** Best (feature, bin, improvement) over the node's histogram cells.
    *
    * criterion = "effect": Athey-Imbens squared-effect gain
    * Σ_child n_child·τ_child², compared against the parent's n·τ².
    *
    * criterion = "gradient" (default): GRF's orthogonalized pseudo-outcome
    * rule (reference CausalForestTree.cpp CalcNumerDenom / SplitPre: the
    * split maximizes Σ_child (Σ_{i∈child} ρ_i)² / n_child with
    * ρ_i = [(W_i−W̄)(Y_i−Ȳ) − (W_i−W̄)²·θ̂] / A, A = Σ(W−W̄)², all at the
    * parent). For binary W every Σρ_child is an exact function of the
    * per-(arm, bin) counts and Y-sums already in the histogram, so the
    * GRF rule costs nothing extra per pass. */
  private def bestSplitCells(cells: Array[Cell], feats: Array[Int],
                             minNodeSize: Long,
                             criterion: String = "gradient"): Option[(Int, Int, Double)] = {
    val f0 = feats.head
    val pc = Array.fill(2)(0L); val ps = Array.fill(2)(0.0)
    cells.filter(_.feat == f0).foreach { c => pc(c.t) += c.cnt; ps(c.t) += c.sum }
    if (pc(0) == 0 || pc(1) == 0) return None
    val n = (pc(0) + pc(1)).toDouble
    val parentTau = ps(1) / pc(1) - ps(0) / pc(0)
    val ybar = (ps(0) + ps(1)) / n
    val wbar = pc(1) / n
    val aNorm = n * wbar * (1.0 - wbar) // Σ(W−W̄)² for binary W
    // Σρ over a child from its per-arm (count, Σy)
    def rhoSum(c0: Long, s0: Double, c1: Long, s1: Double): Double =
      ((1.0 - wbar) * (s1 - c1 * ybar) - (1.0 - wbar) * (1.0 - wbar) * parentTau * c1
        - wbar * (s0 - c0 * ybar) - wbar * wbar * parentTau * c0) / aNorm
    val (baseGain, gainOf) =
      if (criterion == "effect") {
        val pg = n * parentTau * parentTau
        (pg, (lc: Array[Long], ls: Array[Double], rc0: Long, rc1: Long) => {
          val tl = ls(1) / lc(1) - ls(0) / lc(0)
          val tr = (ps(1) - ls(1)) / rc1 - (ps(0) - ls(0)) / rc0
          (lc(0) + lc(1)) * tl * tl + (rc0 + rc1) * tr * tr
        })
      } else {
        // parent Σρ = 0 by construction, so any heterogeneity is gain > 0
        (0.0, (lc: Array[Long], ls: Array[Double], rc0: Long, rc1: Long) => {
          val rl = rhoSum(lc(0), ls(0), lc(1), ls(1))
          val rr = rhoSum(rc0, ps(0) - ls(0), rc1, ps(1) - ls(1))
          rl * rl / (lc(0) + lc(1)) + rr * rr / (rc0 + rc1)
        })
      }
    var bestGain = baseGain + 1e-12
    var best: Option[(Int, Int, Double)] = None
    for (f <- feats) {
      val fc = cells.filter(_.feat == f)
      if (fc.nonEmpty) {
        val maxBin = fc.map(_.bin).max
        val lc = Array.fill(2)(0L); val ls = Array.fill(2)(0.0)
        for (b <- 0 until maxBin) {
          fc.filter(_.bin == b).foreach { c => lc(c.t) += c.cnt; ls(c.t) += c.sum }
          val rc0 = pc(0) - lc(0); val rc1 = pc(1) - lc(1)
          if (lc(0) >= minNodeSize && lc(1) >= minNodeSize &&
              rc0 >= minNodeSize && rc1 >= minNodeSize) {
            val gain = gainOf(lc, ls, rc0, rc1)
            if (gain > bestGain) {
              bestGain = gain
              best = Some((f, b, gain - baseGain))
            }
          }
        }
      }
    }
    best
  }
}
