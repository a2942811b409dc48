package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkEntry

/** Per-gate-entry PHYSICAL-PLAN fingerprints — the regression-armor
  * artifact (`PLAN_r{N}.json`, VERDICT r11 #1).
  *
  * Motivation: the verdict loop's dominant failure mode has been bench
  * noise masquerading as plan regression (r9's q60 scare, r10's lost
  * artifacts). Job counts (BENCH_METHOD rule 7) localize it; a committed
  * plan fingerprint ENDS it — a changed plan is a git diff, an unchanged
  * plan is noise, no re-run needed.
  *
  * The fingerprint is a canonical pre-order rendering of
  * `df.queryExecution.executedPlan` derived with AQE OFF (so the tree is
  * the deterministic compile-time plan, not a runtime re-plan), emitting
  * only node CLASS names (plus recursive subquery trees): no literals, no
  * paths, no expression ids, no partition counts — everything
  * environment- or data-VALUE-dependent is excluded by construction, so
  * the hash is stable across sessions, thread counts and reruns at a
  * fixed scale factor, and changes exactly when the operator tree
  * changes. Derived at sf0.001 (any FIXED sf diffs round-over-round;
  * the smallest keeps the deriving spec fast — stats-driven choices like
  * broadcast-vs-shuffle may legitimately differ at other SFs and are
  * covered by the bench job counts instead).
  *
  * `PlanFingerprintSpec` re-derives the set every test run and fails on
  * any drift from the committed artifact, printing both trees — so a plan
  * change ships only together with its reviewed fingerprint update.
  *
  * Usage: `sbt "runMain graft.tools.PlanFingerprint <round>"` writes
  * `PLAN_r<round>.json` in the working directory (delete the previous
  * round's file in the same commit: the spec pins the HIGHEST-numbered
  * artifact present).
  */
object PlanFingerprint {

  /** Node label: implementation class, minus the `Exec` suffix noise. */
  private def label(p: SparkPlan): String =
    p.getClass.getSimpleName.stripSuffix("Exec").stripSuffix("$")

  /** Canonical pre-order tree: one node per line, two-space indentation,
    * subquery plans inlined under their host node. */
  def canonicalTree(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(n: SparkPlan, depth: Int): Unit = {
      sb.append("  " * depth).append(label(n)).append('\n')
      // scalar/IN subqueries (e.g. q61's lazy bloom) are part of the
      // executed shape but are NOT children — inline them explicitly
      n.subqueries.foreach { sq =>
        sb.append("  " * (depth + 1)).append("[subquery]").append('\n')
        walk(sq, depth + 2)
      }
      n.children.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    sb.toString
  }

  /** One fingerprint record: stable hash + the structural counters that
    * make a drift readable at a glance. */
  final case class Fp(hash: String, nodes: Int, exchanges: Int,
      broadcasts: Int, leaves: Int, wscg: Int, tree: String)

  def fingerprint(df: DataFrame): Fp = {
    val plan = df.queryExecution.executedPlan
    val tree = canonicalTree(plan)
    def all(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.subqueries ++ p.children).flatMap(all)
    val nodes = all(plan)
    val names = nodes.map(label)
    val md = MessageDigest.getInstance("SHA-256")
    val hash = md.digest(tree.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    Fp(hash, nodes.size,
      exchanges = names.count(_ == "ShuffleExchange"),
      broadcasts = names.count(_ == "BroadcastExchange"),
      leaves = nodes.count(_.children.isEmpty),
      wscg = names.count(_.startsWith("WholeStageCodegen")),
      tree = tree)
  }

  /** Derive all gate fingerprints with AQE pinned OFF (restored after).
    * A query whose construction throws records `ERROR:<class>` as its
    * hash — loud in both the artifact diff and the spec. */
  def deriveAll(spark: SparkSession, sfDir: String): Map[String, Fp] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the driver's flagship smoke query rides along (keyed `_entry` so it
    // sorts apart from the gate roster): it exercises the derived-view
    // point-scan path no q-entry covers since the r8 trim, and its plan
    // deserves the same drift pin. `entry` fixes its own sf (0.001 — the
    // driver contract), so the `sfDir` argument is ignored for it.
    val all = SparkEntry.queries +
      ("_entry" -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        SparkEntry.entry(s)))
    try all.map { case (name, fn) =>
      name -> (try fingerprint(fn(spark, sfDir))
      catch { case e: Throwable =>
        Fp(s"ERROR:${e.getClass.getSimpleName}", 0, 0, 0, 0, 0, "") })
    }
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  def renderJson(fps: Map[String, Fp], sfDir: String): String = {
    import Harness.{quote => js}
    val entries = fps.toSeq.sortBy(_._1).map { case (name, fp) =>
      s"""  ${js(name)}: {"hash":${js(fp.hash)},"nodes":${fp.nodes},""" +
        s""""exchanges":${fp.exchanges},"broadcasts":${fp.broadcasts},""" +
        s""""leaves":${fp.leaves},"wscg":${fp.wscg},"tree":${js(fp.tree)}}"""
    }
    s"""{\n"sf":${js(sfDir)},\n"queries":{\n${entries.mkString(",\n")}\n}}"""
  }

  /** args: `[round] [outPath]` — default output `PLAN_r<round>.json`; an
    * explicit second arg writes elsewhere (the round-close sf0.01
    * drift check derives into /tmp and diffs against the committed
    * second-scale artifact, `PLAN_SF0.01_r<round>.json`). */
  def main(args: Array[String]): Unit = {
    val round = if (args.nonEmpty) args(0) else "12"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.LocalSession.create()
    val fps = deriveAll(spark, sfDir)
    val out = if (args.length > 1) args(1) else s"PLAN_r$round.json"
    Files.writeString(Paths.get(out), renderJson(fps, sfDir))
    val errs = fps.collect { case (n, fp) if fp.hash.startsWith("ERROR") => n }
    println(s"$out: ${fps.size} fingerprints" +
      (if (errs.isEmpty) "" else s", ERRORS: ${errs.mkString(",")}"))
    spark.stop()
  }
}
