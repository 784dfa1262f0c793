package graft.oracle

import graft.sim.TransE

/**
 * DuckDB replay of the ENTIRE distributed TransE/TransH training run
 * plus its linkage eval ([[graft.sim.TransE.eval]]) — epochs unrolled
 * as CTE chains, like the ECM/logreg/kmeans fit oracles but for the
 * embedding trainer itself.
 *
 * Why this is bit-exact (the trainer's replay discipline,
 * TransE.scala):
 *  - init is the FNV-seeded [[graft.sim.ExactGrad.initComponent]] —
 *    replayed through the same fnvMixChainW CTE machinery as the
 *    sampler oracles;
 *  - negative tails are fnvMix draws keyed by the PACKED triple id
 *    ((h*nRel + r)*nEnt + t) and the (epoch, j) counter — pure integer
 *    inputs both engines share; relation corruptions (neg_rel_rate)
 *    are the same stream salted by [[TransE.RelCorruptSalt]], with the
 *    16-attempt rejection against the packed triple index replayed as
 *    a first-valid-attempt window over an anti-join;
 *  - per-triple gradient contributions are quantized to integer
 *    micro-units BEFORE the cross-triple sum (plain TransE's signum
 *    sums are already integers; TransH's projected gradients go
 *    through the floor(x*1e6+0.5) quantizer), so the reduction is
 *    integer addition — order-free in both engines;
 *  - every double chain (L1 distances, hyperplane dot products, norms,
 *    cosines) is unrolled LITERALLY LEFT-TO-RIGHT, matching the Scala
 *    loops' accumulation order, and model values are float-rounded
 *    (CAST .. AS REAL = .toFloat) after each update/normalize, so both
 *    engines walk the identical float lattice.
 *
 * The replay core lives in [[Replay]], parameterized by embedding
 * width, neg_rel_rate and a CTE-name prefix: the default instance
 * (D = Config().dim, no relation corruption, prefix "te") serves
 * `transe_eval` / `transh_eval` / the KrEar/MTransE/EmbedLogistic
 * oracles; `grid_transe` instantiates one replay per (dim,
 * neg_rel_rate) combo and UNIONs the four summary rows.
 */
object OracleSqlTransE {

  private val Cfg = TransE.Config()
  private val NRel = graft.graph.GraphBuild.Relations.size

  /** floor(x*1e6 + 0.5) micro-unit quantizer — [[TransE]]'s microQ. */
  private[oracle] def microQ(x: String): String =
    s"CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT)"

  /** Bytes needed to cover value v (>= 1). */
  private[oracle] def bytesFor(v: Long): Int = {
    var b = 1; var lim = 256L
    while (v >= lim && b < 8) { b += 1; lim *= 256 }
    b
  }

  /**
   * One parameterized trainer replay. `tag` prefixes every CTE name
   * (the default "te" reproduces the historical te_* names), so
   * several replays can share one statement (grid_transe).
   *
   * `sharedTag` points the DIM-INDEPENDENT CTEs (triple set, negative
   * tail draws, relation-corruption draws — pure functions of the
   * graph and the seed stream, identical across embedding widths) at
   * another replay's names: the grid emits them once and every combo
   * reuses them.
   */
  private[oracle] final class Replay(val D: Int, val negRelRate: Int,
                                     val tag: String,
                                     val sharedTag: Option[String] = None) {

    private def t(s: String): String = tag + "_" + s

    /** Name of a shared (dim-independent) CTE: the sharing source's
      * when borrowing, this replay's own otherwise. */
    private def sh(s: String): String = sharedTag.getOrElse(tag) + "_" + s

    def dims: Range = 0 until D

    /** Literal left-to-right sum chain over the dims. */
    def chain(f: Int => String): String = dims.map(f).mkString(" + ")

    def csv(f: Int => String): String = dims.map(f).mkString(",\n    ")

    /** (h >>> 11)/2^53 -> [-bound, bound) float init component — the SQL
      * image of [[graft.sim.ExactGrad.initComponent]]'s tail given the
      * chain column. */
    def initExpr(h: String): String =
      s"CAST((CAST($h >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0)" +
        s" * (6.0 / sqrt(${D}.0)) AS REAL)"

    /** L2 normalization pair: stage 1 computes the squared norm `s` from
      * columns `<in>0..`, stage 2 emits `<out>d` float-rounded. */
    def normStage2(inPfx: String, outPfx: String): String =
      csv(d => s"CASE WHEN s > 0 THEN CAST($inPfx$d::DOUBLE * (1.0 / sqrt(s))" +
        s" AS REAL) ELSE $inPfx$d END AS $outPfx$d")

    /** Matrix init CTEs: fnv chain over (rowExpr*8 + matId, seed*64 + j),
      * pivot to wide columns `<outPfx>0..`, optional L2 normalization —
      * the SQL image of TransE.train's init block. */
    def initMatrix(sb: StringBuilder, chainPre: String, srcCte: String,
                   rowCol: String, matId: Int, xBytes: Int,
                   outCte: String, idCol: String, outPfx: String,
                   normalize: Boolean): Unit = {
      val seedY = Cfg.seed * 64
      sb ++= OracleSql.fnvMixChainW(chainPre, srcCte,
        s"($rowCol * 8 + $matId)::HUGEINT", s"($seedY + j)::HUGEINT",
        xBytes, bytesFor(seedY + D - 1))
      val pivot = csv(d =>
        s"max(CASE WHEN j = $d THEN ${initExpr(chainPre + "_h")} END) AS c$d")
      if (!normalize) {
        sb ++= s"""
, $outCte AS MATERIALIZED (
  SELECT $rowCol AS $idCol,
    ${csv(d => s"max(CASE WHEN j = $d THEN ${initExpr(chainPre + "_h")} END) AS $outPfx$d")}
  FROM ${chainPre}4 GROUP BY $rowCol
)"""
      } else {
        sb ++= s"""
, ${outCte}w AS (
  SELECT $rowCol AS $idCol, $pivot
  FROM ${chainPre}4 GROUP BY $rowCol
)
, ${outCte}s AS (SELECT $idCol, ${dims.map(d => s"c$d").mkString(", ")},
    (${chain(d => s"c$d::DOUBLE * c$d::DOUBLE")}) AS s FROM ${outCte}w)
, $outCte AS MATERIALIZED (
  SELECT $idCol, ${normStage2("c", outPfx)}
  FROM ${outCte}s
)"""
      }
    }

    /** One epoch's update CTE for a matrix whose gradient keys start at
      * `keyBase` ("" = the row id itself), optionally L2-normalized. */
    def updateMatrix(sb: StringBuilder, e: Int, inCte: String,
                     outCte: String, idCol: String, pfx: String,
                     keyBase: String, normalize: Boolean): Unit = {
      val key = if (keyBase.isEmpty) s"m.$idCol" else s"$keyBase + m.$idCol"
      val from =
        if (keyBase.isEmpty) s"$inCte m LEFT JOIN ${t(s"g$e")} g ON g.tgt = $key"
        else s"$inCte m CROSS JOIN ${sh("n")} LEFT JOIN ${t(s"g$e")} g ON g.tgt = $key"
      val upd = csv(d => s"CAST((m.$pfx$d::DOUBLE - ${Cfg.lr}::DOUBLE * " +
        s"(COALESCE(g.g$d, 0)::DOUBLE / 1000000.0)) AS REAL) AS u$d")
      if (!normalize) {
        sb ++= s"""
, $outCte AS MATERIALIZED (
  SELECT m.$idCol, ${csv(d => s"CAST((m.$pfx$d::DOUBLE - ${Cfg.lr}::DOUBLE * " +
          s"(COALESCE(g.g$d, 0)::DOUBLE / 1000000.0)) AS REAL) AS $pfx$d")}
  FROM $from
)"""
      } else {
        sb ++= s"""
, ${outCte}u AS (
  SELECT $idCol, ${dims.map(d => s"u$d").mkString(", ")},
    (${chain(d => s"u$d::DOUBLE * u$d::DOUBLE")}) AS s
  FROM (
    SELECT m.$idCol, $upd
    FROM $from
  )
)
, $outCte AS MATERIALIZED (
  SELECT $idCol, ${normStage2("u", pfx)}
  FROM ${outCte}u
)"""
      }
    }

    /** Record label -> model-row id: the ER-dictionary default
      * (TransE/TransH score over the ER entity matrix directly). */
    def recentCte: String = s"""
, ${t("recent")} AS (
  SELECT CAST(substr(label, 2) AS BIGINT) AS rid, ent_id
  FROM ents WHERE regexp_matches(label, '^r[0-9]+$$')
)"""

    /** Shared training scaffolding + per-epoch unroll: rawt/ents, packed
      * idx, FNV init, negative draws, `epochs` rounds of gradient +
      * update CTEs. Leaves `<tag>_e<epochs>` as the trained entity
      * matrix. `includeBase = false` skips the shared rawt/ents CTEs
      * (grid statement emits them once). */
    def trainCtes(sb: StringBuilder, transH: Boolean, nRel: Int,
                  epochs: Int, tripleSelect: String,
                  includeBase: Boolean = true): Unit = {
      if (includeBase) sb ++= OracleSql.rawtCte
      if (sharedTag.isEmpty) tripleCtes(sb, nRel, tripleSelect)
      sb ++= s"""
, ${t("isrc")} AS (SELECT e.ent_id AS row, rj.j FROM ents e CROSS JOIN range(0, $D) rj(j))
, ${t("rsrc")} AS (SELECT rr.rid, rj.j FROM range(0, $nRel) rr(rid) CROSS JOIN range(0, $D) rj(j))"""
      initMatrix(sb, tag + "i", t("isrc"), "row", 0, 5, t("e0"), "ent_id", "e",
        normalize = true)
      // relation rows are normalized per epoch ONLY under relation
      // corruption (or normalizeRel), mirroring TransE.train — and
      // never at init
      initMatrix(sb, tag + "r", t("rsrc"), "rid", 1, 2, t("r0"), "rid", "r",
        normalize = false)
      if (transH)
        initMatrix(sb, tag + "w", t("rsrc"), "rid", 2, 2, t("w0"), "rid", "w",
          normalize = true)
      if (sharedTag.isEmpty) negCtes(sb, nRel, epochs)
      for (e <- 0 until epochs) {
        if (!transH) plainEpoch(sb, e) else transHEpoch(sb, e, nRel)
        updateMatrix(sb, e, t(s"e$e"), t(s"e${e + 1}"), "ent_id", "e",
          "", normalize = true)
        updateMatrix(sb, e, t(s"r$e"), t(s"r${e + 1}"), "rid", "r",
          s"${sh("n")}.ne", normalize = negRelRate > 0)
        if (transH)
          updateMatrix(sb, e, t(s"w$e"), t(s"w${e + 1}"), "rid", "w",
            s"${sh("n")}.ne + $nRel", normalize = true)
      }
    }

    /** Just the DIM-INDEPENDENT CTEs under this replay's tag — the
      * grid's sharing source (emit once, every combo borrows via
      * `sharedTag`). */
    def sharedOnlyCtes(sb: StringBuilder, nRel: Int, epochs: Int,
                       tripleSelect: String): Unit = {
      tripleCtes(sb, nRel, tripleSelect)
      negCtes(sb, nRel, epochs)
    }

    private def tripleCtes(sb: StringBuilder, nRel: Int,
                           tripleSelect: String): Unit = {
      sb ++= s"""
, ${sh("n")} AS (SELECT CAST(count(*) AS BIGINT) AS ne FROM ents)
, ${t("rawtrip")} AS ($tripleSelect)
, ${sh("trip")} AS MATERIALIZED (
  SELECT h, t, r, (h * $nRel + r) * ${sh("n")}.ne + t AS idx
  FROM ${t("rawtrip")} CROSS JOIN ${sh("n")}
)"""
      // the x side of every draw chain (the 7-byte idx fold + its pad
      // multiply) is constant across the (epoch, j) grid — fold it ONCE
      // per triple here instead of once per (triple x epoch x negRate)
      // row in the expanded draw sources (byte-identical: the FNV fold
      // is sequential, so splitting after the x pad is the same op
      // sequence with the suffix chain seeded from `pfh`)
      sb ++= OracleSql.fnvMixChainW(tag + "tp", sh("trip"),
        "idx::HUGEINT", "", 7, -1)
      sb ++= s"""
, ${sh("tripf")} AS (
  SELECT h, t, r, idx, ${tag}tp_h AS pfh FROM ${tag}tp4
)"""
    }

    private def negCtes(sb: StringBuilder, nRel: Int,
                        epochs: Int): Unit = {
      val negKeyMax = epochs.toLong * Cfg.negRate - 1
      sb ++= s"""
, ${t("negsrc")} AS (
  SELECT t.h, t.t, t.r, t.pfh, e.ep, j.j
  FROM ${sh("tripf")} t
  CROSS JOIN range(0, $epochs) e(ep)
  CROSS JOIN range(0, ${Cfg.negRate}) j(j)
)"""
      sb ++= OracleSql.fnvMixChainW(tag + "n", t("negsrc"),
        s"(ep * ${Cfg.negRate} + j)::HUGEINT", "",
        bytesFor(negKeyMax max 1), -1, init = Some("pfh"))
      sb ++= s"""
, ${sh("negs")} AS MATERIALIZED (
  SELECT h, t, r, ep, tn FROM (
    SELECT h, t, r, ep,
      CAST((((${OracleSql.signed64(tag + "n_h")}) % ${sh("n")}.ne) + ${sh("n")}.ne) % ${sh("n")}.ne AS BIGINT) AS tn
    FROM ${tag}n4 CROSS JOIN ${sh("n")}
  ) WHERE tn <> t
)"""
      if (negRelRate > 0) negRelCtes(sb, nRel, epochs)
    }

    /** How many of the 16 rejection attempts to expand eagerly: the
      * rest run only for the rare (triple, epoch, jr) keys with no
      * stage-A winner (reject ~2/nRel per attempt, so ~4-8% of keys
      * reach stage B) — ~5x fewer hash chains than a flat 16-attempt
      * expansion, same first-valid-attempt-wins winner set (the stages
      * partition the attempt sequence in order). */
    private val RelStageA = 2

    /** Relation-corruption draws, precomputed for all epochs: per
      * (triple, epoch, jr) up to 16 salted attempts; an attempt is
      * valid iff its drawn relation differs from the triple's AND the
      * corrupted (h, t, r') is not a real triple (anti-join on the
      * packed id — TransE.train's binarySearch rejection); the FIRST
      * valid attempt wins. Staged A/B as documented on [[RelStageA]]. */
    private def negRelCtes(sb: StringBuilder, nRel: Int,
                           epochs: Int): Unit = {
      val yk = (attSrc: String) =>
        s"""xor(${TransE.RelCorruptSalt}::BIGINT,
        ((k.ep * $negRelRate + k.jr) * 31 + $attSrc)::BIGINT)::HUGEINT AS yk"""
      // one winner CTE per stage: rn from the chain, validity by
      // rejection rules, min-attempt row kept
      def stage(st: String, srcCte: String): Unit = {
        // idx prefix pre-folded per triple (see tripleCtes): only the
        // 8 yk bytes fold per expanded attempt row
        sb ++= OracleSql.fnvMixChainW(tag + "rn" + st, srcCte,
          "yk", "", 8, -1, init = Some("pfh"))
        sb ++= s"""
, ${t("rwin" + st)} AS MATERIALIZED (
  SELECT h, t, r, idx, ep, jr, rn FROM (
    SELECT h, t, r, idx, ep, jr, rn,
      row_number() OVER (PARTITION BY idx, ep, jr ORDER BY att) AS k
    FROM (
      SELECT d.h, d.t, d.r, d.idx, d.ep, d.jr, d.att, d.rn
      FROM (
        SELECT c.h, c.t, c.r, c.idx, c.ep, c.jr, c.att,
          CAST((((${OracleSql.signed64(tag + "rn" + st + "_h")}) % $nRel) + $nRel) % $nRel AS BIGINT) AS rn
        FROM ${tag}rn${st}4 c
      ) d
      CROSS JOIN ${sh("n")}
      LEFT JOIN ${sh("trip")} x ON x.idx = (d.h * $nRel + d.rn) * ${sh("n")}.ne + d.t
      WHERE d.rn <> d.r AND x.idx IS NULL
    )
  ) WHERE k = 1
)"""
      }
      sb ++= s"""
, ${t("rkeys")} AS (
  SELECT t.h, t.t, t.r, t.idx, t.pfh, e.ep, jr.jr
  FROM ${sh("tripf")} t
  CROSS JOIN range(0, $epochs) e(ep)
  CROSS JOIN range(0, $negRelRate) jr(jr)
)
, ${t("rnegsrcA")} AS (
  SELECT k.h, k.t, k.r, k.idx, k.pfh, k.ep, k.jr, a.att,
    ${yk("a.att")}
  FROM ${t("rkeys")} k CROSS JOIN range(0, $RelStageA) a(att)
)"""
      stage("A", t("rnegsrcA"))
      sb ++= s"""
, ${t("rnegsrcB")} AS (
  SELECT k.h, k.t, k.r, k.idx, k.pfh, k.ep, k.jr, a.att,
    ${yk("a.att")}
  FROM ${t("rkeys")} k
  CROSS JOIN range($RelStageA, 16) a(att)
  WHERE NOT EXISTS (
    SELECT 1 FROM ${t("rwinA")} w
    WHERE w.idx = k.idx AND w.ep = k.ep AND w.jr = k.jr
  )
)"""
      stage("B", t("rnegsrcB"))
      sb ++= s"""
, ${sh("rnegs")} AS MATERIALIZED (
  SELECT h, t, r, ep, rn FROM ${t("rwinA")}
  UNION ALL
  SELECT h, t, r, ep, rn FROM ${t("rwinB")}
)"""
    }

    /** Plain-TransE epoch: active hinges (L1 margin over h+r-t vs
      * h+r-t'), integer signum gradients — TransE.train's !transH arm.
      * Under relation corruption a second hinge block contributes
      * (h+r-t vs h+r'-t) gradients to the same per-row sum. */
    def plainEpoch(sb: StringBuilder, e: Int): Unit = {
      sb ++= s"""
, ${t(s"ac$e")} AS MATERIALIZED (
  SELECT h, t, tn, r,
    ${csv(d => s"CASE WHEN p$d > 0 THEN 1 WHEN p$d < 0 THEN -1 ELSE 0 END AS sp$d")},
    ${csv(d => s"CASE WHEN q$d > 0 THEN 1 WHEN q$d < 0 THEN -1 ELSE 0 END AS sn$d")}
  FROM (
    SELECT n.h, n.t, n.tn, n.r,
      ${csv(d => s"(eh.e$d::DOUBLE + rr.r$d::DOUBLE - et.e$d::DOUBLE) AS p$d")},
      ${csv(d => s"(eh.e$d::DOUBLE + rr.r$d::DOUBLE - en.e$d::DOUBLE) AS q$d")}
    FROM ${sh("negs")} n
    JOIN ${t(s"e$e")} eh ON eh.ent_id = n.h
    JOIN ${t(s"e$e")} et ON et.ent_id = n.t
    JOIN ${t(s"e$e")} en ON en.ent_id = n.tn
    JOIN ${t(s"r$e")} rr ON rr.rid = n.r
    WHERE n.ep = $e
  )
  WHERE (${chain(d => s"abs(p$d)")}) - (${chain(d => s"abs(q$d)")}) + ${Cfg.margin} > 0
)"""
      val relTerms =
        if (negRelRate == 0) ""
        else {
          sb ++= s"""
, ${t(s"rac$e")} AS MATERIALIZED (
  SELECT h, t, r, rn,
    ${csv(d => s"CASE WHEN p$d > 0 THEN 1 WHEN p$d < 0 THEN -1 ELSE 0 END AS sp$d")},
    ${csv(d => s"CASE WHEN q$d > 0 THEN 1 WHEN q$d < 0 THEN -1 ELSE 0 END AS sn$d")}
  FROM (
    SELECT n.h, n.t, n.r, n.rn,
      ${csv(d => s"(eh.e$d::DOUBLE + rr.r$d::DOUBLE - et.e$d::DOUBLE) AS p$d")},
      ${csv(d => s"(eh.e$d::DOUBLE + rn2.r$d::DOUBLE - et.e$d::DOUBLE) AS q$d")}
    FROM ${sh("rnegs")} n
    JOIN ${t(s"e$e")} eh ON eh.ent_id = n.h
    JOIN ${t(s"e$e")} et ON et.ent_id = n.t
    JOIN ${t(s"r$e")} rr ON rr.rid = n.r
    JOIN ${t(s"r$e")} rn2 ON rn2.rid = n.rn
    WHERE n.ep = $e
  )
  WHERE (${chain(d => s"abs(p$d)")}) - (${chain(d => s"abs(q$d)")}) + ${Cfg.margin} > 0
)"""
          s"""
    UNION ALL SELECT h, ${csv(d => s"(sp$d - sn$d) * 1000000")} FROM ${t(s"rac$e")}
    UNION ALL SELECT t, ${csv(d => s"-(sp$d - sn$d) * 1000000")} FROM ${t(s"rac$e")}
    UNION ALL SELECT ${sh("n")}.ne + r, ${csv(d => s"sp$d * 1000000")}
      FROM ${t(s"rac$e")} CROSS JOIN ${sh("n")}
    UNION ALL SELECT ${sh("n")}.ne + rn, ${csv(d => s"-sn$d * 1000000")}
      FROM ${t(s"rac$e")} CROSS JOIN ${sh("n")}"""
        }
      sb ++= s"""
, ${t(s"g$e")} AS MATERIALIZED (
  SELECT tgt, ${dims.map(d => s"SUM(g$d) AS g$d").mkString(", ")}
  FROM (
    SELECT h AS tgt, ${csv(d => s"(sp$d - sn$d) * 1000000 AS g$d")} FROM ${t(s"ac$e")}
    UNION ALL SELECT t, ${csv(d => s"-sp$d * 1000000")} FROM ${t(s"ac$e")}
    UNION ALL SELECT tn, ${csv(d => s"sn$d * 1000000")} FROM ${t(s"ac$e")}
    UNION ALL SELECT ${sh("n")}.ne + r, ${csv(d => s"(sp$d - sn$d) * 1000000")}
      FROM ${t(s"ac$e")} CROSS JOIN ${sh("n")}$relTerms
  ) GROUP BY tgt
)"""
    }

    /** TransH epoch: hyperplane-projected L1 hinge
      * v = (h - t) - (w.(h - t)) w + d_r, projected subgradients, each
      * contribution micro-quantized — TransE.train's transH arm. The
      * layered subqueries keep every expression referenced ONCE per
      * level (dtP/dtN -> wduP/wduN -> termP/termN -> sp/sn -> swP/swN),
      * mirroring the Scala kernel's intermediate variables. */
    private def transHEpoch(sb: StringBuilder, e: Int, nRel: Int): Unit = {
      sb ++= s"""
, ${t(s"ac$e")} AS MATERIALIZED (
  SELECT h, t, tn, r,
    ${dims.map(d => s"sp$d").mkString(", ")},
    ${dims.map(d => s"sn$d").mkString(", ")},
    ${dims.map(d => s"wd$d").mkString(", ")},
    ${dims.map(d => s"dtP$d").mkString(", ")},
    ${dims.map(d => s"dtN$d").mkString(", ")},
    wduP, wduN,
    (${chain(d => s"sp$d::DOUBLE * wd$d")}) AS swP,
    (${chain(d => s"sn$d::DOUBLE * wd$d")}) AS swN
  FROM (
    SELECT *,
      ${csv(d => s"CASE WHEN termP$d > 0 THEN 1 WHEN termP$d < 0 THEN -1 ELSE 0 END AS sp$d")},
      ${csv(d => s"CASE WHEN termN$d > 0 THEN 1 WHEN termN$d < 0 THEN -1 ELSE 0 END AS sn$d")}
    FROM (
      SELECT *,
        ${csv(d => s"(dtP$d - wduP * wd$d + re$d) AS termP$d")},
        ${csv(d => s"(dtN$d - wduN * wd$d + re$d) AS termN$d")}
      FROM (
        SELECT *,
          (${chain(d => s"wd$d * dtP$d")}) AS wduP,
          (${chain(d => s"wd$d * dtN$d")}) AS wduN
        FROM (
          SELECT n.h, n.t, n.tn, n.r,
            ${csv(d => s"(eh.e$d::DOUBLE - et.e$d::DOUBLE) AS dtP$d")},
            ${csv(d => s"(eh.e$d::DOUBLE - en.e$d::DOUBLE) AS dtN$d")},
            ${csv(d => s"ww.w$d::DOUBLE AS wd$d")},
            ${csv(d => s"rr.r$d::DOUBLE AS re$d")}
          FROM ${sh("negs")} n
          JOIN ${t(s"e$e")} eh ON eh.ent_id = n.h
          JOIN ${t(s"e$e")} et ON et.ent_id = n.t
          JOIN ${t(s"e$e")} en ON en.ent_id = n.tn
          JOIN ${t(s"r$e")} rr ON rr.rid = n.r
          JOIN ${t(s"w$e")} ww ON ww.rid = n.r
          WHERE n.ep = $e
        )
      )
    )
    WHERE (${chain(d => s"abs(termP$d)")}) - (${chain(d => s"abs(termN$d)")}) + ${Cfg.margin} > 0
  )
)
, ${t(s"g$e")} AS MATERIALIZED (
  SELECT tgt, ${dims.map(d => s"SUM(g$d) AS g$d").mkString(", ")}
  FROM (
    SELECT h AS tgt, ${csv(d => microQ(
      s"(sp$d - swP * wd$d) - (sn$d - swN * wd$d)") + s" AS g$d")} FROM ${t(s"ac$e")}
    UNION ALL SELECT t, ${csv(d => "-" + microQ(s"sp$d - swP * wd$d"))} FROM ${t(s"ac$e")}
    UNION ALL SELECT tn, ${csv(d => microQ(s"sn$d - swN * wd$d"))} FROM ${t(s"ac$e")}
    UNION ALL SELECT ${sh("n")}.ne + r, ${csv(d => s"(sp$d - sn$d) * 1000000")}
      FROM ${t(s"ac$e")} CROSS JOIN ${sh("n")}
    UNION ALL SELECT ${sh("n")}.ne + $nRel + r, ${csv(d => microQ(
      s"(-((swP * dtP$d) + (wduP * sp$d))) + ((swN * dtN$d) + (wduN * sn$d))"))}
      FROM ${t(s"ac$e")} CROSS JOIN ${sh("n")}
  ) GROUP BY tgt
)"""
    }

    /** Candidate pairs joined to the final model through the
      * record->model-row dictionary CTE named `<tag>_recent`. */
    def tjCte(fin: String): String = s"""
, ${t("tj")} AS (
  SELECT c.idA, c.idB,
    CAST(CASE WHEN c.dni_a = c.dni_b THEN 1 ELSE 0 END AS BIGINT) AS label,
    c.split_a, c.split_b,
    ${csv(d => s"ea.e$d AS a$d")},
    ${csv(d => s"eb.e$d AS b$d")}
  FROM cand c
  JOIN ${t("recent")} ra ON ra.rid = c.idA
  JOIN $fin ea ON ea.ent_id = ra.ent_id
  JOIN ${t("recent")} rb ON rb.rid = c.idB
  JOIN $fin eb ON eb.ent_id = rb.ent_id
)"""

    /** The scoring CTEs after `<tag>_tj` (which must carry idA, idB,
      * label, split_a, split_b, a0.., b0..): cosine dists, robust
      * train-split theta plateau, confusion + MRR.
      *
      * PRECONDITION (all theta-sweep oracle images — this one and the
      * rb_, wb, vsc_ prefixed copies): a NON-EMPTY train-train slice.
      * Threshold.bestThetaTrainSplit's degenerate-slice fallbacks
      * (non-test pairs, then the loudly-flagged full set) are NOT
      * replayed — on a dataset where the train slice is empty the SQL
      * theta goes NULL and the row mismatches, which is the desired
      * loud failure, not a silent agreement. The driver's synthetic
      * tables always carry train-train pairs by construction. */
    def tailCtes: String = s"""
, ${t("tsc")} AS MATERIALIZED (
  SELECT idA, idB, label, split_a, split_b,
    1.0 - (CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
                ELSE dot / sqrt(na * nb) END) AS dist
  FROM (
    SELECT idA, idB, label, split_a, split_b,
      (${chain(d => s"a$d::DOUBLE * b$d::DOUBLE")}) AS dot,
      (${chain(d => s"a$d::DOUBLE * a$d::DOUBLE")}) AS na,
      (${chain(d => s"b$d::DOUBLE * b$d::DOUBLE")}) AS nb
    FROM ${t("tj")}
  )
)
, ${t("swb")} AS (
  SELECT CAST(ceil(dist * 50) AS INT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS npos
  FROM ${t("tsc")} WHERE split_a = 'train' AND split_b = 'train' GROUP BY 1
)
, ${t("sw")} AS (
  SELECT bucket,
    CASE WHEN tp = 0 THEN 0.0
         ELSE tp * 2 / (tp * 2 + (cum_n - tp) + (total_pos - tp)) END AS f1
  FROM (
    SELECT bucket,
      CAST(SUM(npos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
      CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
      CAST(SUM(npos) OVER () AS BIGINT) AS total_pos
    FROM ${t("swb")}
  )
)
, ${t("fmax")} AS (SELECT max(f1) AS fm FROM ${t("sw")})
, ${t("blo")} AS (SELECT min(bucket) AS b FROM ${t("sw")}, ${t("fmax")} WHERE f1 = fm)
, ${t("bhi")} AS (SELECT coalesce(min(bucket) - 1, (SELECT b FROM ${t("blo")})) AS b
    FROM ${t("sw")}, ${t("fmax")}, ${t("blo")} WHERE bucket > ${t("blo")}.b AND f1 < fm)
, ${t("th")} AS (SELECT CAST(floor(((SELECT b FROM ${t("blo")}) + (SELECT b FROM ${t("bhi")})) / 2.0) AS BIGINT) / 50.0 AS th)
, ${t("conf")} AS (
  SELECT
    CAST(SUM(CASE WHEN dist <= (SELECT th FROM ${t("th")}) AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN dist <= (SELECT th FROM ${t("th")}) AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN dist >  (SELECT th FROM ${t("th")}) AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM ${t("tsc")} WHERE split_a = 'test' AND split_b = 'test'
)
, ${t("rk")} AS (
  SELECT idA, label,
    CAST(row_number() OVER (PARTITION BY idA ORDER BY dist, idB) AS BIGINT) AS rank
  FROM ${t("tsc")} WHERE split_a = 'test' AND split_b = 'test'
)
, ${t("qf")} AS (
  SELECT idA, CAST(SUM(label) AS BIGINT) AS n_rel,
    CAST(coalesce(MIN(CASE WHEN label = 1 THEN rank END), 0) AS BIGINT) AS first_rel_rank
  FROM ${t("rk")} GROUP BY idA
)
, ${t("ir")} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
    CAST(coalesce(SUM(CAST(round(1000000.0 / first_rel_rank) AS BIGINT)), 0) AS BIGINT) AS srr
  FROM ${t("qf")} WHERE n_rel > 0
)"""

    /** The 1-row summary SELECT over the tail CTEs — TransE.eval's
      * output shape; `extraCols` injects additional literal output
      * columns (e.g. MTransE's `evolve`). */
    def summarySelect(dimOut: Long, epochsOut: Long,
                      extraCols: String = ""): String = s"""
SELECT CAST($dimOut AS BIGINT) AS dim, CAST($epochsOut AS BIGINT) AS epochs,
  $extraCols(SELECT th FROM ${t("th")}) AS theta,
  CASE WHEN tp = 0 THEN 0.0 ELSE tp * 2 / (tp * 2 + fp + fn) END AS f1,
  CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
  CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall,
  (SELECT srr / n_queries / 1000000.0 FROM ${t("ir")}) AS mrr
FROM ${t("conf")}"""

    /** The scoring tail after `<tag>_tj`: tail CTEs + summary row. */
    def scoringTail(dimOut: Long, epochsOut: Long,
                    extraCols: String = ""): String =
      tailCtes + summarySelect(dimOut, epochsOut, extraCols)

    /** Final-model scoring over the candidate pairs — the SQL image of
      * TransE.pairScores + TransE.eval. `recentCte` supplies the
      * record->model-row dictionary (KrEar remaps through its own
      * dense entity dictionary). */
    def scoringSql(fin: String,
                   recentCteStr: String = recentCte,
                   dimOut: Long = D.toLong,
                   epochsOut: Long = Cfg.epochs.toLong): String =
      recentCteStr + tjCte(fin) + scoringTail(dimOut, epochsOut)

    /** One grid combo's summary row: (dim, neg_rel_rate, f1, precision,
      * recall, mrr) as DOUBLE — GridSearch.sweep's schema. */
    def gridSelect: String = s"""SELECT CAST($D AS DOUBLE) AS dim,
  CAST($negRelRate AS DOUBLE) AS neg_rel_rate,
  (SELECT CASE WHEN tp = 0 THEN 0.0
    ELSE tp * 2 / (tp * 2 + fp + fn) END FROM ${t("conf")}) AS f1,
  (SELECT CASE WHEN tp + fp = 0 THEN 0.0
    ELSE tp / (tp + fp) END FROM ${t("conf")}) AS precision,
  (SELECT CASE WHEN tp + fn = 0 THEN 0.0
    ELSE tp / (tp + fn) END FROM ${t("conf")}) AS recall,
  (SELECT srr / n_queries / 1000000.0 FROM ${t("ir")}) AS mrr"""
  }

  /** Default replay: registered config, tail corruption only, te_*
    * names — shared by the eval oracles and the KrEar / MTransE /
    * EmbedLogistic builders below. */
  private[oracle] val default = new Replay(Cfg.dim, 0, "te")

  private[oracle] def dims: Range = default.dims
  private[oracle] def chain(f: Int => String): String = default.chain(f)
  private[oracle] def csv(f: Int => String): String = default.csv(f)
  private[oracle] def initExpr(h: String): String = default.initExpr(h)
  private[oracle] def normStage2(inPfx: String, outPfx: String): String =
    default.normStage2(inPfx, outPfx)
  private[oracle] def initMatrix(sb: StringBuilder, chainPre: String,
                                 srcCte: String, rowCol: String, matId: Int,
                                 xBytes: Int, outCte: String, idCol: String,
                                 outPfx: String, normalize: Boolean): Unit =
    default.initMatrix(sb, chainPre, srcCte, rowCol, matId, xBytes, outCte,
      idCol, outPfx, normalize)
  private[oracle] val DefaultRecent: String = default.recentCte
  private[oracle] def scoringSql(fin: String,
                                 recentCte: String = DefaultRecent,
                                 dimOut: Long = Cfg.dim.toLong,
                                 epochsOut: Long = Cfg.epochs.toLong): String =
    default.scoringSql(fin, recentCte, dimOut, epochsOut)
  private[oracle] def scoringTail(dimOut: Long, epochsOut: Long,
                                  extraCols: String = ""): String =
    default.scoringTail(dimOut, epochsOut, extraCols)

  /** The ER-graph triple select ([[OracleSql.graphErTriples]]'s body). */
  private val erTripleSelect = """
  SELECT eh.ent_id AS h, et.ent_id AS t, rawt.rel_id AS r
  FROM rawt
  JOIN ents eh ON eh.label = rawt.rec
  JOIN ents et ON et.label = rawt.value"""

  /** The ERER joint-KG triple select (ER triples + `same_as` prior
    * edges, [[OracleSql.graphErerJointTriples]]'s body). */
  private val jointTripleSelect = erTripleSelect + s"""
  UNION ALL
  SELECT ra.ent_id, rb.ent_id, CAST($NRel AS BIGINT)
  FROM (SELECT idA, idB FROM cand
        WHERE dni_a = dni_b AND dni_a % 10 < 3) p
  JOIN ents ra ON ra.label = 'r' || CAST(p.idA AS VARCHAR)
  JOIN ents rb ON rb.label = 'r' || CAST(p.idB AS VARCHAR)"""

  /** Trainer + linkage eval (transe_eval / transh_eval). */
  private def evalSql(transH: Boolean): String = {
    val sb = new StringBuilder
    default.trainCtes(sb, transH, NRel, Cfg.epochs, erTripleSelect)
    sb ++= default.scoringSql(s"te_e${Cfg.epochs}")
    OracleSql.q(sb.toString)
  }

  val transeEval: String = evalSql(transH = false)
  val transhEval: String = evalSql(transH = true)

  /** grid_transe: one full plain-TransE replay per (dim, neg_rel_rate)
    * combo under its own CTE prefix, four summary rows UNIONed —
    * TransE.GridDims x TransE.GridNegRel, the same axes SparkEntry
    * sweeps. */
  val gridTranse: String = {
    // the shared relation-corruption stream is drawn with ONE rate
    // (GridNegRel.max); the draw arithmetic (ep*negRelRate + jr)
    // depends on the rate, so sharing is only sound while all nonzero
    // grid rates are equal — guard the axis shape
    require(TransE.GridNegRel.filter(_ > 0).distinct.size <= 1,
      s"grid_transe shares one rnegs stream across combos — unequal " +
        s"nonzero neg_rel_rates need per-rate streams: ${TransE.GridNegRel}")
    val sb = new StringBuilder
    sb ++= OracleSql.rawtCte
    // the triple set and BOTH negative-draw streams are dim-independent
    // (pure functions of the graph + the seed streams): emit them once
    // under the "gs" tag and let every combo borrow
    val shared = new Replay(1, TransE.GridNegRel.max, "gs")
    shared.sharedOnlyCtes(sb, NRel, Cfg.epochs, erTripleSelect)
    val selects = for {
      (d, di) <- TransE.GridDims.zipWithIndex
      (nrr, ni) <- TransE.GridNegRel.zipWithIndex
    } yield {
      if (d == Cfg.dim && nrr == 0) {
        // this combo IS the default registered config whose whole
        // training run transe_eval bit-verifies from first principles
        // (same dim/epochs/seed/draw streams -> same model -> same
        // metrics row, equality previously re-proven by the inline
        // replay): stage the cell on that verified dump instead of
        // unrolling the most expensive (widest-dim) chain twice per
        // gate run (~19 s, VERIFY_BUDGET.json)
        s"""SELECT CAST($d AS DOUBLE) AS dim,
  CAST($nrr AS DOUBLE) AS neg_rel_rate, f1, precision, recall, mrr
FROM read_parquet('${OracleSql.OutDirToken}/transe_eval/*.parquet')"""
      } else {
        val rp = new Replay(d, nrr, s"g$di$ni", sharedTag = Some("gs"))
        rp.trainCtes(sb, transH = false, NRel, Cfg.epochs, erTripleSelect,
          includeBase = false)
        sb ++= rp.recentCte
        sb ++= rp.tjCte(s"g${di}${ni}_e${Cfg.epochs}")
        sb ++= rp.tailCtes
        rp.gridSelect
      }
    }
    sb ++= "\n" + selects.mkString("\nUNION ALL\n")
    OracleSql.q(sb.toString)
  }

  // --- LogisticTransH over the joint KG (graft.ml.EmbedLogistic) ---

  private val El = graft.ml.EmbedLogistic.Config()
  // drift guard: elCtes unrolls through the default Replay, whose
  // chain widths / init bound are TransE.Config().dim literals — the
  // EmbedLogistic trainer must stay at the same width (its TransH fit
  // passes lr/margin/negRate/seed through TransE defaults already)
  require(El.dim == Cfg.dim,
    s"EmbedLogistic.Config.dim (${El.dim}) diverged from the shared " +
      s"replay width (${Cfg.dim})")

  /** floor(x*1e9 + 0.5)/1e9 — EmbedLogistic's q9 nano-quantizer. */
  private def q9(x: String): String =
    s"floor(($x) * 1000000000.0 + 0.5) / 1000000000.0"

  /** Joint-KG TransH replay + micro-quantized gauss features — the
    * expensive prefix, run ONCE by the [[embedLogisticFeatures]]
    * anchor. Leaves `el_feat`. */
  private def elFeatCtes(sb: StringBuilder): Unit = {
    default.trainCtes(sb, transH = true, NRel + 1, El.epochs,
      jointTripleSelect)
    val fin = s"te_e${El.epochs}"
    val gauss = (d: Int) =>
      s"floor(pow(2.0::DOUBLE, -pow(abs(ea.e$d::DOUBLE - eb.e$d::DOUBLE)" +
        s" / ${El.gaussScale}::DOUBLE, 2.0)) * 1000000.0 + 0.5) / 1000000.0"
    sb ++= s"""
, te_recent AS (
  SELECT CAST(substr(label, 2) AS BIGINT) AS rid, ent_id
  FROM ents WHERE regexp_matches(label, '^r[0-9]+$$')
)
, el_feat AS MATERIALIZED (
  SELECT c.idA, c.idB,
    CAST(CASE WHEN c.dni_a = c.dni_b THEN 1 ELSE 0 END AS BIGINT) AS label,
    c.split_a, c.split_b,
    ${csv(d => s"${gauss(d)} AS x$d")}
  FROM cand c
  JOIN te_recent ra ON ra.rid = c.idA
  JOIN $fin ea ON ea.ent_id = ra.ent_id
  JOIN te_recent rb ON rb.rid = c.idB
  JOIN $fin eb ON eb.ent_id = rb.ent_id
)"""
  }

  /** The staged anchor query: full joint-TransH + gauss replay,
    * exported as exact micro-lattice integers. */
  val embedLogisticFeatures: String = {
    val sb = new StringBuilder
    elFeatCtes(sb)
    sb ++= s"""
SELECT idA, idB, label, split_a, split_b,
  ${csv(d => s"CAST(floor(x$d * 1000000.0 + 0.5) AS BIGINT) AS x${d}_micros")}
FROM el_feat"""
    OracleSql.q(sb.toString)
  }

  /** STAGED feature CTE: `el_feat` reconstructed exactly from the
    * verified [[embedLogisticFeatures]] anchor (`micros / 1e6` is the
    * identical IEEE division both engines perform on the mq6 grid). */
  private def elAnchorFeatCte(sb: StringBuilder): Unit =
    sb ++= s"""
, el_feat AS MATERIALIZED (
  SELECT idA, idB, CAST(label AS BIGINT) AS label, split_a, split_b,
    ${csv(d => s"x${d}_micros / 1000000.0 AS x$d")}
  FROM read_parquet('${OracleSql.OutDirToken}/embed_logistic_features/*.parquet')
)"""

  /** Staged channels + the class-balanced GD chain (one MATERIALIZED
    * gradient + params CTE pair per iteration, the ECM/fs_logreg
    * pattern). Leaves `el_it<iters>` (w0..w<dim-1>, b) and `el_feat`. */
  private def elCtes(sb: StringBuilder): Unit = {
    elAnchorFeatCte(sb)
    sb ++= s"""
, el_train AS MATERIALIZED (
  SELECT label, ${dims.map(d => s"x$d").mkString(", ")} FROM el_feat
  WHERE split_a = 'train' AND split_b = 'train'
)
, el_nc AS (SELECT CAST(SUM(label) AS BIGINT) AS np,
    CAST(SUM(1 - label) AS BIGINT) AS nn FROM el_train)
, el_it0 AS (SELECT ${dims.map(d => s"0.0::DOUBLE AS w$d").mkString(", ")},
    0.0::DOUBLE AS b)"""
    val zChain = chain(d => s"i.w$d * f.x$d")
    for (k <- 0 until El.iters) {
      sb ++= s"""
, el_g$k AS MATERIALIZED (
  SELECT
    ${csv(d => s"CAST(SUM(CASE WHEN label = 1 THEN c$d ELSE 0 END) AS BIGINT) AS p$d")},
    ${csv(d => s"CAST(SUM(CASE WHEN label = 0 THEN c$d ELSE 0 END) AS BIGINT) AS n$d")},
    CAST(SUM(CASE WHEN label = 1 THEN cb ELSE 0 END) AS BIGINT) AS pb,
    CAST(SUM(CASE WHEN label = 0 THEN cb ELSE 0 END) AS BIGINT) AS nb
  FROM (
    SELECT label,
      ${csv(d => microQ(s"resid * x$d") + s" AS c$d")},
      ${microQ("resid")} AS cb
    FROM (
      SELECT f.label, ${dims.map(d => s"f.x$d").mkString(", ")},
        (1.0 / (1.0 + exp(-($zChain + i.b))) -
         CASE WHEN f.label = 1 THEN 1.0 ELSE 0.0 END) AS resid
      FROM el_train f CROSS JOIN el_it$k i
    )
  )
)
, el_it${k + 1} AS MATERIALIZED (
  SELECT
    ${csv(d => q9(s"i.w$d - ${El.lr}::DOUBLE * ((0.5::DOUBLE * (g.p$d / 1000000.0) / nc.np" +
      s" + 0.5::DOUBLE * (g.n$d / 1000000.0) / nc.nn) + ${El.reg}::DOUBLE * i.w$d)") + s" AS w$d")},
    ${q9(s"i.b - ${El.lr}::DOUBLE * (0.5::DOUBLE * (g.pb / 1000000.0) / nc.np" +
      s" + 0.5::DOUBLE * (g.nb / 1000000.0) / nc.nn)")} AS b
  FROM el_it$k i, el_g$k g, el_nc nc
)"""
    }
  }

  /** embed_logistic_metrics: test-split confusion of `logit >= 0`.
    * STAGED twice over: features from the verified
    * [[embedLogisticFeatures]] anchor, weights read back from the
    * verified [[embedLogisticWeights]] dump (raw nano-lattice doubles
    * — parquet roundtrips them exactly); only the decision (logit
    * sign, no transcendentals) + confusion are re-derived. */
  val embedLogisticMetrics: String = {
    val sb = new StringBuilder
    elAnchorFeatCte(sb)
    sb ++= s"""
, el_wf AS (
  SELECT
    ${csv(d => s"MAX(CASE WHEN d = $d THEN weight END) AS w$d")},
    MAX(CASE WHEN d = ${Cfg.dim} THEN weight END) AS b
  FROM read_parquet('${OracleSql.OutDirToken}/embed_logistic_weights/*.parquet')
)"""
    val fitZ = chain(d => s"i.w$d * f.x$d")
    sb ++= s"""
, el_conf AS (
  SELECT
    CAST(SUM(CASE WHEN ($fitZ + i.b) >= 0 AND f.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN ($fitZ + i.b) >= 0 AND f.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN ($fitZ + i.b) < 0 AND f.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN ($fitZ + i.b) < 0 AND f.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM el_feat f CROSS JOIN el_wf i
  WHERE f.split_a = 'test' AND f.split_b = 'test'
)
SELECT tp, fp, fn, tn,
  CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
  CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall,
  CASE WHEN tp = 0 THEN 0.0 ELSE tp * 2 / (tp * 2 + fp + fn) END AS f1,
  (tp + tn) / (tp + fp + fn + tn) AS accuracy
FROM el_conf"""
    OracleSql.q(sb.toString)
  }

  /** embed_logistic_weights: the fitted parameter surface itself —
    * d in [0, dim) the weights, d = dim the intercept. */
  val embedLogisticWeights: String = {
    val sb = new StringBuilder
    elCtes(sb)
    sb ++= s"""
SELECT CAST(r.d AS BIGINT) AS d,
  CASE r.d ${dims.map(d => s"WHEN $d THEN i.w$d").mkString(" ")}
    WHEN ${Cfg.dim} THEN i.b END AS weight
FROM el_it${El.iters} i CROSS JOIN range(0, ${Cfg.dim + 1}) r(d)"""
    OracleSql.q(sb.toString)
  }
}
