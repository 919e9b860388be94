package graft.plans

import graft.{SparkSpec, Tables}

/** The user-SQL pair-enumeration audit (VERDICT r9 missing-1): the detector
  * must flag exactly the band/bucket self-join signature — same base
  * relation on both sides, every equi-key a derived projection — and the
  * gateway must surface the verdict as a `warn` protocol line. */
class PairJoinAuditSpec extends SparkSpec {

  private def analyzed(sql: String) = {
    Tables.register(spark, sfDir)
    spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(sql)).analyzed
  }

  test("a derived-key self-join (exact-dedup shape) is flagged") {
    val p = analyzed(
      """SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
         ON substring(a.text, 1, 64) = substring(b.text, 1, 64)
         AND a.doc_id < b.doc_id""")
    val f = PairJoinAudit.detect(p)
    assert(f.isDefined)
    assert(f.get.relation.contains("documents"), f.get.relation)
  }

  test("a band-bucket self-join through a view (the d04 user shape) is flagged") {
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW user_bands AS
         SELECT doc_id, b.band, b.bkey FROM (
           SELECT doc_id, explode(transform(sequence(0, 3), i ->
             struct(i AS band, substring(md5(text), i * 8 + 1, 8) AS bkey))) AS b
           FROM documents)""")
    val p = analyzed(
      """SELECT x.doc_id, y.doc_id FROM user_bands x JOIN user_bands y
         ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id""")
    assert(PairJoinAudit.detect(p).isDefined)
  }

  test("raw stored-column self-joins and cross-relation joins stay clean") {
    // id-keyed self-join: 1:1, not pair-enumerating
    assert(PairJoinAudit.detect(analyzed(
      """SELECT a.doc_id FROM documents a JOIN documents b
         ON a.doc_id = b.doc_id""")).isEmpty)
    // mixed keys with at least one raw column: still id-keyed
    assert(PairJoinAudit.detect(analyzed(
      """SELECT a.doc_id FROM documents a JOIN documents b
         ON a.doc_id = b.doc_id AND substring(a.text,1,8) = substring(b.text,1,8)""")).isEmpty)
    // different relations: no self-join
    assert(PairJoinAudit.detect(analyzed(
      """SELECT d.doc_id FROM documents d JOIN nation n
         ON length(d.lang) = n.n_nationkey""")).isEmpty)
    // semi-join never enumerates (output bounded by the left side)
    assert(PairJoinAudit.detect(analyzed(
      """SELECT doc_id FROM documents a WHERE EXISTS (
           SELECT 1 FROM documents b
           WHERE substring(a.text,1,64) = substring(b.text,1,64)
             AND b.doc_id < a.doc_id)""")).isEmpty)
  }

  test("inspect attaches the replica-mass verdict and the routed door") {
    val msg = PairJoinAudit.inspect(analyzed(
      """SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
         ON substring(a.text, 1, 64) = substring(b.text, 1, 64)
         AND a.doc_id < b.doc_id"""), spark)
    assert(msg.isDefined)
    assert(msg.get.contains("replica mass"), msg.get)
    assert(msg.get.contains("d30_routed_neardup"), msg.get)
  }

  test("opt-in rewrite: a naive all-pairs near-dup query is rewritten to the d30 door") {
    val s2 = spark.newSession()
    Tables.register(s2, sfDir)
    // the d08-oracle shape a user would write: the exact naive kernel
    // (shingle self-join, exact Jaccard >= 0.8) the audit's template states
    val naiveSql =
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                jaccard_bp(a.h, b.h) AS jaccard_bp
         FROM (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) a
         JOIN (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) b
           ON a.doc_id < b.doc_id AND jaccard_bp(a.h, b.h) >= 8000"""
    // default (warn-only): the naive plan survives untouched
    val off = s2.sql(naiveSql)
    val offCanon = off.queryExecution.optimizedPlan.canonicalized
    val expected = off.collect().map(_.toString).sorted.toSeq
    s2.conf.set(PairJoinAudit.RewriteFlag, "true")
    val on = s2.sql(naiveSql)
    val onCanon = on.queryExecution.optimizedPlan.canonicalized
    assert(onCanon != offCanon, "flag on: the plan must be rewritten")
    // the door's kernel, not the user's raw all-pairs join: below the
    // dense all-pairs gate that is the bitmap nested-loop (jaccard_bp_words
    // over relabeled payloads), above it the positional-filter candidate
    // join (the `indexable` prefix marker)
    val onPlan = on.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("jaccard_bp_words") || onPlan.contains("indexable"),
      onPlan.take(2000))
    // and the rewrite preserves the declared semantics byte-for-byte
    // (d30's below-gate branch is recall-1.0 against this definition)
    assert(on.collect().map(_.toString).sorted.toSeq == expected)
    assert(expected.nonEmpty, "non-vacuous: the corpus must surface pairs")
  }

  test("suppression is scoped to the finding's subtree, not the whole plan (ADVICE r13 #4)") {
    val s2 = spark.newSession()
    Tables.register(s2, sfDir)
    // the BARE 3-column kernel (as in the rewrite tests above): a 2-column
    // projection would let pruning narrow the subtree away from the
    // template and no door would be spliced at all
    val naiveSql =
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                jaccard_bp(a.h, b.h) AS jaccard_bp
         FROM (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) a
         JOIN (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) b
           ON a.doc_id < b.doc_id AND jaccard_bp(a.h, b.h) >= 8000"""
    s2.conf.set(PairJoinAudit.RewriteFlag, "true")
    // splice a door (records its canonical shape in splicedDoors)
    val r0 = PairJoinAudit.rewritesApplied
    val door = s2.sql(naiveSql)
    val doorPlan = door.queryExecution.optimizedPlan
    assert(PairJoinAudit.rewritesApplied > r0, "precondition: the door must splice")
    // the door's own internal band join trips detect() — and IS inside
    // the spliced subtree, so the advisory stays silent for it
    PairJoinAudit.detect(doorPlan).foreach { f =>
      assert(PairJoinAudit.findingInsideSplicedDoor(doorPlan, f.join),
        "the spliced door's internal finding must be suppressed")
    }
    // a DIFFERENT, genuinely naive kernel sharing one statement with
    // the spliced door: the old whole-plan containment check exempted
    // it; the subtree-scoped check must not
    s2.conf.unset(PairJoinAudit.RewriteFlag) // keep naive2 naive
    // same 3-column shape as the door so the union prunes nothing out
    // of the spliced subtree (a pruned door would no longer hash-match
    // splicedDoors, and the test would pass vacuously under the old
    // whole-plan check)
    val naive2 = s2.sql(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_chars AS jaccard_bp
         FROM documents a JOIN documents b
         ON substring(a.text, 1, 64) = substring(b.text, 1, 64)
         AND a.doc_id < b.doc_id""")
    val u = naive2.unionAll(door)
    val uPlan = u.queryExecution.optimizedPlan
    val f = PairJoinAudit.detect(uPlan)
    assert(f.isDefined, "the union's naive branch must still be detected")
    assert(!PairJoinAudit.findingInsideSplicedDoor(uPlan, f.get.join),
      "a naive kernel merely sharing a statement with a spliced door " +
        "must not be exempt from the advisory")
  }

  test("opt-in rewrite: a naive symmetric cluster-edge query is rewritten to the d32 edge door") {
    val s2 = spark.newSession()
    Tables.register(s2, sfDir)
    // the cluster-pipeline front a user writes before their own CC pass:
    // both orientations (a <> b), exactly Dedup.naiveClusterEdges' shape
    val naiveSql =
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                jaccard_bp(a.h, b.h) AS jaccard_bp
         FROM (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) a
         JOIN (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) b
           ON a.doc_id <> b.doc_id AND jaccard_bp(a.h, b.h) >= 8000"""
    val off = s2.sql(naiveSql)
    val offCanon = off.queryExecution.optimizedPlan.canonicalized
    val expected = off.collect().map(_.toString).sorted.toSeq
    s2.conf.set(PairJoinAudit.RewriteFlag, "true")
    val on = s2.sql(naiveSql)
    assert(on.queryExecution.optimizedPlan.canonicalized != offCanon,
      "flag on: the plan must be rewritten")
    val onPlan = on.queryExecution.optimizedPlan.toString
    // either gear of the door's kernel (see the d30 rewrite test above)
    assert(onPlan.contains("jaccard_bp_words") || onPlan.contains("indexable"),
      onPlan.take(2000))
    // below the gate the door's oriented pairs + flips ARE the `<>`
    // definition (PPJoin recall 1.0), so the rewrite is byte-identical
    assert(on.collect().map(_.toString).sorted.toSeq == expected)
    assert(expected.nonEmpty, "non-vacuous: the corpus must surface edges")
  }

  test("opt-in rewrite: a naive wide band self-join over embeddings is rewritten to the s24 door") {
    val s2 = spark.newSession()
    Tables.register(s2, sfDir)
    // the hand-written hyperplane-LSH probe: embeddings carried THROUGH
    // the band join — Similarity.naiveAnnPairs' shape
    // repeated subselects, not a CTE: a multi-reference WITH can survive
    // as WithCTE/CTERelationRef in the optimizer, hiding the shared leaf
    val bandSub =
      """(SELECT vec_id, embedding, bk.tbl AS tbl, bk.bucket AS bucket FROM (
           SELECT vec_id, embedding, explode(transform(sequence(0, 3), t ->
             struct(t AS tbl, shiftright(sig, t * 8) & 255 AS bucket))) AS bk
           FROM (SELECT vec_id, embedding, hyperplane_sig(embedding, 32) AS sig
                 FROM embeddings)))"""
    val naiveSql =
      s"""SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                round(cosine_sim(q.embedding, c.embedding), 4) + 0.0 AS cosine
         FROM $bandSub q JOIN $bandSub c
           ON q.tbl = c.tbl AND q.bucket = c.bucket
          AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id"""
    val off = s2.sql(naiveSql)
    val offCanon = off.queryExecution.optimizedPlan.canonicalized
    val expected = off.collect().map(_.toString).sorted.toSeq
    s2.conf.set(PairJoinAudit.RewriteFlag, "true")
    val on = s2.sql(naiveSql)
    assert(on.queryExecution.optimizedPlan.canonicalized != offCanon,
      "flag on: the plan must be rewritten")
    // the door computes candidates ids-only and rejoins embeddings after
    // the distinct — below the vec-mass gate the answers are identical
    assert(on.collect().map(_.toString).sorted.toSeq == expected)
    assert(expected.nonEmpty, "non-vacuous: the corpus must surface candidates")
  }

  test("gateway: SET spark.graft.audit.rewrite=true applies per-session over the wire") {
    val s2 = spark.newSession()
    val gw = new graft.server.QueryGateway(s2, s => Tables.register(s, sfDir))
    try {
      def connect() = {
        val sock = new java.net.Socket("localhost", gw.boundPort)
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        (sock, out, in)
      }
      def readStmt(in: java.io.BufferedReader): (Seq[String], Seq[String]) = {
        assert(in.readLine() == "ok")
        var warns = List.empty[String]
        var rows = List.empty[String]
        var line = in.readLine()
        while (!line.startsWith("done")) {
          if (line.startsWith("warn ")) warns ::= line else rows ::= line
          line = in.readLine()
        }
        (rows.reverse, warns.reverse)
      }
      // the BARE kernel: a consumer (count/sum) above it would let column
      // pruning narrow the subtree before the rule runs, and the pruned
      // shape no longer canonically equals the 3-column template
      val naive =
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  jaccard_bp(a.h, b.h) AS jaccard_bp
           FROM (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) a
           JOIN (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) b
             ON a.doc_id < b.doc_id AND jaccard_bp(a.h, b.h) >= 8000"""
      // connection A: opts in via plain SET over the wire
      val (sockA, outA, inA) = connect()
      outA.println("SET spark.graft.audit.rewrite=true")
      readStmt(inA)
      val r0 = PairJoinAudit.rewritesApplied
      outA.println(naive.replaceAll("\\s+", " "))
      val (rowsA, warnsA) = readStmt(inA)
      assert(PairJoinAudit.rewritesApplied > r0,
        "the rewrite must actually fire for the opted-in session")
      assert(warnsA.exists(_.contains("rewrite=true is set")), warnsA)
      // connection B: fresh session, flag NOT inherited — warn offers the hint
      val (sockB, outB, inB) = connect()
      outB.println(naive.replaceAll("\\s+", " "))
      val (rowsB, warnsB) = readStmt(inB)
      assert(warnsB.exists(_.contains("SET spark.graft.audit.rewrite=true to auto-rewrite")), warnsB)
      // and the rewritten session's answer is byte-identical (sorted:
      // the two plans stream rows in different physical orders)
      assert(rowsA.sorted == rowsB.sorted, s"$rowsA vs $rowsB")
      assert(rowsA.nonEmpty)
      outA.println("quit"); outB.println("quit")
      sockA.close(); sockB.close()
    } finally gw.close()
  }

  test("gateway surfaces the verdict as a warn line; clean statements get none") {
    val gw = new graft.server.QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      val sock = new java.net.Socket("localhost", gw.boundPort)
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream))
      out.println(
        "SELECT count(*) AS n FROM documents a JOIN documents b " +
          "ON substring(a.text, 1, 64) = substring(b.text, 1, 64) " +
          "AND a.doc_id < b.doc_id")
      assert(in.readLine() == "ok")
      val warn = in.readLine()
      assert(warn.startsWith("warn "), warn)
      assert(warn.contains("pair-enumerating"), warn)
      var line = in.readLine()
      while (!line.startsWith("done")) line = in.readLine()
      // clean statement: no warn line between ok and the first row
      out.println("SELECT count(*) AS n FROM documents")
      assert(in.readLine() == "ok")
      val first = in.readLine()
      assert(first.startsWith("{"), first)
      assert(in.readLine().startsWith("done"))
      out.println("quit")
      sock.close()
    } finally gw.close()
  }
}
