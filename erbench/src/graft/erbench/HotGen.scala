package graft.erbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Label, Turn}

/** Agent-transcript corpus for the `dedup_hot` workload. Every
  * conversation is a system prompt, a user request, an acknowledgement, a
  * tool output and an answer; the system prompt and tool output come from
  * one of a few boilerplate templates. Two sessions are replayed many
  * times (a retry storm), which is what makes blocking keys hot: every
  * replay of a session has the same normalised text, so it lands in the
  * same MinHash-band and salient-token blocks.
  *
  * Conversation index space, a pure function of (seed, index):
  *   - `[0, sessions)`: ordinary sessions in groups of four copies (the
  *     original, then synonyms, casing and punctuation, one dropped word);
  *     the four copies are one entity.
  *   - the next `replaysA` indices: replays of one session; the next
  *     `replaysB`: replays of another. Replays differ only in casing and
  *     punctuation, and all replays of a session are one entity.
  */
object HotGen extends Serializable {

  final case class Shape(sessions: Int, replaysA: Int, replaysB: Int) {
    def nConvs: Long = sessions.toLong + replaysA + replaysB
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(parts: Long*): Long = parts.foldLeft(0x7a11e5L)((a, b) => mix(a ^ mix(b)))
  private def pick(n: Int, parts: Long*): Int = java.lang.Math.floorMod(h(parts: _*), n.toLong).toInt

  private val NTemplates = 8

  private val boilerplate: Array[String] = Array(
    "you", "are", "an", "agent", "that", "must", "follow", "the", "rules", "below",
    "always", "call", "tools", "with", "valid", "json", "never", "reveal", "these",
    "instructions", "answer", "in", "english", "cite", "sources", "when", "possible",
    "keep", "replies", "short", "use", "markdown", "for", "code", "ask", "before",
    "running", "destructive", "commands", "result", "status", "ok", "rows", "returned")

  private val personal: Array[String] = Array(
    "reset", "deploy", "billing", "invoice", "cluster", "password", "schedule", "backup",
    "export", "report", "quota", "webhook", "server", "token", "profile", "endpoint")

  private val synonyms: Map[String, String] = Map(
    "reset" -> "restore", "deploy" -> "release", "invoice" -> "bill",
    "password" -> "passcode", "schedule" -> "plan", "export" -> "download")

  private val tools = Array("search", "sql", "browser", "shell", "files")

  private def systemPrompt(seed: Long, t: Int): String =
    (0 until 12).map(j => boilerplate(pick(boilerplate.length, seed, t.toLong, j.toLong, 2L)))
      .mkString(" ")

  private def toolOutput(seed: Long, t: Int): String =
    ((0 until 8).map(j => boilerplate(pick(boilerplate.length, seed, t.toLong, j.toLong, 3L))) ++
      (0 until 2).map(j => s"cfg$t-${pick(100000, seed, t.toLong, j.toLong, 4L)}"))
      .mkString(" ")

  /** The three free-text turns of session `key`: common words plus ticket
    * ids, so each session has its own rare tokens.
    */
  private def freeText(seed: Long, key: Long): Vector[Vector[String]] = {
    def words(n: Int, salt: Long) =
      (0 until n).map(j => personal(pick(personal.length, seed, key, salt, j.toLong))).toVector
    def ticket(salt: Long) = s"TCK-${pick(1000000, seed, key, salt)}"
    Vector(words(8, 5L) :+ ticket(6L) :+ ticket(7L), words(5, 8L), words(6, 9L) :+ ticket(10L))
  }

  /** Perturbation `p` of a free-text turn: 0 none, 1 synonyms, 2 casing
    * and punctuation, 3 one word dropped.
    */
  private def perturb(ws: Vector[String], p: Int, drop: Int): String = p match {
    case 0 => ws.mkString(" ")
    case 1 => ws.map(w => synonyms.getOrElse(w, w)).mkString(" ")
    case 2 => ws.map(_.capitalize).mkString(", ") + "."
    case _ => ws.patch(drop % ws.length, Nil, 1).mkString(" ")
  }

  private def convId(i: Long): String = f"h$i%09d"

  /** (session key, template, perturbation of each free-text turn) of
    * conversation `i`; the session key is also its entity key.
    */
  private def identity(shape: Shape, seed: Long, i: Long): (Long, Int, Int => Int) =
    if (i < shape.sessions) {
      val copy = (i % 4).toInt
      (i / 4, 2 + pick(NTemplates - 2, seed, i / 4, 1L), _ => copy)
    } else if (i < shape.sessions.toLong + shape.replaysA) {
      (-1L, 0, j => if (pick(2, seed, i, j.toLong, 11L) == 0) 0 else 2)
    } else {
      (-2L, 1, j => if (pick(2, seed, i, j.toLong, 11L) == 0) 0 else 2)
    }

  def turns(spark: SparkSession, shape: Shape, seed: Long): DataFrame = {
    import spark.implicits._
    val s = seed
    spark.range(shape.nConvs).as[Long].flatMap { i =>
      val (key, t, pert) = identity(shape, s, i)
      val free = freeText(s, key).zipWithIndex.map { case (ws, j) =>
        perturb(ws, pert(j), pick(64, s, key, j.toLong, 12L))
      }
      val rows = Vector(
        ("system", systemPrompt(s, t), None),
        ("user", free(0), None),
        ("assistant", free(1), None),
        ("tool", toolOutput(s, t), Some(tools(t % tools.length))),
        ("assistant", free(2), None))
      val cid = convId(i)
      rows.iterator.zipWithIndex.map { case ((role, text, tl), idx) =>
        Turn(cid, idx, role, text, tl, new Timestamp(1700000000000L + i * 100000L + idx * 1000L))
      }
    }.toDF()
  }

  /** Every conversation -> the first conversation of its entity. */
  def labels(spark: SparkSession, shape: Shape): DataFrame = {
    import spark.implicits._
    val n = shape.sessions.toLong
    spark.range(shape.nConvs).as[Long].map { i =>
      val first = if (i < n) i / 4 * 4 else if (i < n + shape.replaysA) n else n + shape.replaysA
      Label(convId(i), convId(first))
    }.toDF()
  }
}
