package graft.tools

/** Normalizes EXPLAIN output before it is written to a committed plan
  * snapshot (the PLANS dir), so regenerating snapshots produces diffs
  * ONLY when the plan's structure changed. Raw explain text embeds
  * values that differ on every run with zero semantic content —
  * expression IDs, plan_ids, JVM object addresses, lambda class names,
  * temp checkpoint paths, stream runIds, wall-clock batch timestamps,
  * codegen and query-stage ids —
  * and those spurious diffs would bury a real plan regression
  * (ADVICE r12).
  *
  * Deliberately conservative: fixture-pinned constants (e.g. the
  * 1600000000000000 µs FixedTs in tsWindow bounds) are deterministic
  * and survive; only current-era wall-clock epochs (17…-prefixed ms/µs,
  * i.e. mid-2023 through 2029) are masked.
  */
object PlanSnapshot {

  private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
    // expression IDs: n_key#123, sum(x#45L)#67 … — the negative
    // lookahead keeps composite-key literals like `#1-URGENT` intact
    // (their digits run into a word/dash, exprIds never do)
    // watermark-annotated exprIds first: `ts#123-T60000ms` — the dash
    // would otherwise trip the composite-literal lookahead below and
    // leave a fresh exprId in every streaming snapshot (plan flap)
    ("""#\d+(-T\d+ms)""".r, "#N$1"),
    ("""#\d+L?(?![\w-])""".r, "#N"),
    // AQE / DSv2 plan identifiers
    ("""plan_id=\d+""".r, "plan_id=N"),
    // JVM object identity hashes: GraftObj@1a2b3c4d
    // identityHashCode hex has NO minimum width (a 5-hex @e0d2c slipped
    // a {6,16} floor and flapped a committed snapshot in r18) — but a
    // 1-char floor would eat decimal-looking tokens like @1, so require
    // 4+ which every plausible identity hash exceeds
    ("""@[0-9a-f]{4,16}\b""".r, "@ADDR"),
    // lambda class names: Lambda$1234/0x00007f…
    ("""\$\$Lambda\$?\d*(/0x[0-9a-f]+)?""".r, "\\$\\$Lambda\\$N"),
    // stream runIds, checkpoint UUIDs, shuffle IDs rendered as UUIDs
    ("""\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b""".r, "UUID"),
    // temp paths (checkpoints, work dirs): file:/tmp/… or bare /tmp/…
    ("""file:/tmp/[^\s,)\]"']*""".r, "file:/tmp/TMPPATH"),
    ("""(?<![\w/])/tmp/[^\s,)\]"']*""".r, "/tmp/TMPPATH"),
    // wall-clock epochs (ms then µs), current era only — fixture-pinned
    // 16…-prefixed constants stay
    ("""\b17\d{14}\b""".r, "EPOCH_US"),
    ("""\b17\d{11}\b""".r, "EPOCH_MS"),
    // RDD ids in ExistingRDD scans: MapPartitionsRDD[12282] — a session-
    // lifetime counter, different on every run with zero plan content
    ("""RDD\[\d+\]""".r, "RDD[N]"),
    // broadcast variable ids: Broadcast(4941) — a SparkContext-lifetime
    // counter rendered by expressions holding a broadcast handle
    ("""Broadcast\(\d+\)""".r, "Broadcast(N)"),
    // AQE runtime statistics: sizeInBytes flaps with heap layout and
    // broadcast relation packing between identical runs (observed 68 MiB
    // vs 28 MiB for the same 1.00E+5-row broadcast); rowCount is the
    // stable, meaningful part and survives
    ("""sizeInBytes=[0-9.]+ (B|KiB|MiB|GiB|TiB)""".r, "sizeInBytes=SZ"),
    // source line numbers in RDD callsites (`localCheckpoint at
    // Similarity.scala:498`): every unrelated edit above the call shifts
    // them — file name is the content, the line is churn
    ("""\.scala:\d+""".r, ".scala:N"),
    // lambda variable names: `lambda x_92`, `y_4#N` — NamedLambdaVariable's
    // session-lifetime counter (x/y/z by lambda arity); diffs on every
    // regeneration, zero content. Single letter + underscore + digits
    // only, so real column names never match
    ("""\b([a-z])_\d+""".r, "$1_N"),
    // whole-stage codegen ids: `[codegen id : 9]` in formatted explain,
    // `*(9) Project` in the tree form — numbered in traversal order, so
    // they swap between runs of one plan whose stages complete in a
    // different order; the `*` marking a codegen'd node survives
    ("""\[codegen id : \d+\]""".r, "[codegen id : N]"),
    ("""\*\(\d+\) """.r, "*(N) "),
    // query-stage ids (`Arguments: 8` under a `(79) ShuffleQueryStage`
    // header): AQE numbers stages as they are created, the same churn;
    // other nodes' `Arguments:` (limits, partitionings) survive
    ("""(?m)(^\(\d+\) \w*QueryStage\n(?:Output \[\d+\]: .*\n)?)Arguments: \d+$""".r, "$1Arguments: N")
  )

  def normalize(txt: String): String =
    rules.foldLeft(txt) { case (t, (re, repl)) => re.replaceAllIn(t, repl) }
}
