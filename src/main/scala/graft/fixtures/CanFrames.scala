package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.events

/** CAN fixtures: deterministic candump lines synthesized from the
  * events table, the DBC networks that decode them, and their DuckDB twin
  * [[canBytesCte]], so the decode pipeline has an arithmetic (string-free)
  * oracle. Shared byte formulas of [[canLines]] and the CTE `b`:
  * {{{
  *   v  = cast(round(value*100) as bigint)   (0..49002)
  *   d0 = v & 255, d1 = (v>>8) & 255, d2 = user_id & 255,
  *   d3 = event_id & 255, d4 = (event_id>>8) & 255,
  *   d5 = (user_id*7+3) & 255, d6 = event_id % 2, d7 = (event_id*31+user_id) & 255
  *   can_id = 0x100 when user_id even else 0x200
  * }}}
  */
private[graft] object CanFrames {

  /** The bounded (event_id < 2000, all-unique-ts) sparse-signal subset
    * shared by the two T1b exact-bucketing gates and their recursive-CTE
    * oracles — ONE definition so the paired gates can't desynchronize.
    */
  def exactBucketSubset(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_id") < 2000)
      .withColumn("ts_ms",
        (unix_micros(col("ts")) - 1704067200000000L) / 1000.0)
      .withColumn("a", when(col("event_type") === "click", col("value")))
      .withColumn("c", when(col("event_type") === "error", col("user_id")))
      .select("ts_ms", "a", "c")

  val canTestDbc =
    """BO_ 256 M1: 8 E
      | SG_ SPEED : 0|16@1+ (0.25,-10) [0|0] "" X
      | SG_ CNT8 : 16|8@1- (1,0) [0|0] "" X
      | SG_ FLAG : 24|1@1+ (1,0) [0|0] "" X
      | SG_ MOTO12 : 39|12@0- (0.5,0) [0|0] "" X
      | SG_ MUXSEL M : 48|2@1+ (1,0) [0|0] "" X
      | SG_ VA m0 : 56|8@1+ (1,0) [0|0] "" X
      | SG_ VB m1 : 56|8@1- (1,0) [0|0] "" X
      |BO_ 512 M2: 8 E
      | SG_ U31 : 0|31@1+ (1,0) [0|0] "" X
      | SG_ BIG48 : 8|48@1+ (1,0) [0|0] "" X
      | SG_ MOTO16 : 7|16@0+ (0.01,5) [0|0] "" X
      |BO_ 768 M3: 8 E
      | SG_ flt32_FVAL : 0|32@1+ (1,0) [0|0] "" X
      | SG_ SEQ : 32|32@1+ (1,0) [0|0] "" X
      |""".stripMargin

  def hex2(c: Column): Column = lpad(hex(c), 2, "0")

  /** The narrow event seed fanned out across cores BEFORE the per-row
    * line synthesis below: the bench events parquet is 1-2 scan splits,
    * so with the repartition placed AFTER the synthesis projection (the
    * r20 shape) the format_string/hex work itself ran on the scan tasks
    * — a measured 0.6 s two-task stage in qc_ts_normalize with one task
    * carrying it all. Fanning the projected seed first moves only the
    * 3-4 input longs per row through the exchange and parallelizes the
    * synthesis and everything after it (guide §2.5 input skew + §2.3
    * project before the exchange).
    *
    * The fanned seed is an eager `localCheckpoint`, a hard pushdown
    * barrier (as in [[ZipfCorpus.zipfDocs]]): without it the parser's
    * validity filter was pushed below the exchange, and the pushed copy
    * re-synthesized the full candump line (format_string + hex + RLIKE)
    * per event on the 1-2 scan tasks, paid by every qc decode gate. The
    * trade: building the frame runs a Spark job, and the seed is a block
    * that dies with its executor (a lost block fails the query instead of
    * recomputing it). Only the harness releases the blocks, between reps
    * (`GraftSession.release`). ROADMAP direction 3 replaces it with a lazy
    * logical barrier.
    */
  def fanEv(ev: DataFrame, cols: String*): DataFrame =
    ev.select(cols.map(col): _*)
      .repartition(ev.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()

  /** events → candump text lines (one per event). */
  def canLines(ev: DataFrame): DataFrame = {
    val e = col("event_id"); val u = col("user_id")
    val v = round(col("value") * 100).cast("long")
    val us = unix_micros(col("ts"))
    val d = Seq(
      v.bitwiseAND(255), shiftrightunsigned(v, 8).bitwiseAND(255),
      u.bitwiseAND(255), e.bitwiseAND(255),
      shiftrightunsigned(e, 8).bitwiseAND(255), (u * 7 + 3).bitwiseAND(255),
      e % 2, (e * 31 + u).bitwiseAND(255))
    val payloadHex = concat(d.map(hex2): _*)
    val idHex = when(u % 2 === 0, "100").otherwise("200")
    fanEv(ev, "event_id", "user_id", "value", "ts").select(
      e.as("event_id"),
      format_string("(%d.%06d) vcan0 %s#%s",
        expr("unix_micros(ts) div 1000000"), us % 1000000L, idHex, payloadHex).as("value"))
  }

  /** The DuckDB twin of [[canLines]]: the byte CTE `b` the qc_* oracles
    * splice in.
    */
  val canBytesCte =
    """WITH b AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS v,
      |    CAST(round(value*100) AS BIGINT) & 255 AS d0,
      |    (CAST(round(value*100) AS BIGINT) >> 8) & 255 AS d1,
      |    user_id & 255 AS d2,
      |    event_id & 255 AS d3,
      |    (event_id >> 8) & 255 AS d4,
      |    (user_id*7+3) & 255 AS d5,
      |    event_id % 2 AS d6,
      |    (event_id*31+user_id) & 255 AS d7,
      |    CASE WHEN user_id % 2 = 0 THEN 256 ELSE 512 END AS can_id
      |  FROM events
      |)""".stripMargin

  /** events → candump lines for message M3 (id 0x300): bytes 0-3 are IEEE-754
    * float bits chosen so the decoded value is exactly representable and
    * DuckDB can state it arithmetically — `±(1 + m/2^23)` with
    * `m = event_id % 2^23` and sign from `user_id` parity (biased exponent
    * 127, mantissa m ⇒ bits `0x3F800000 | m`, value `1 + m/2^23`, exact in
    * both float and double). Bytes 4-7 carry event_id as a u32 join key.
    */
  def flt32Lines(ev: DataFrame): DataFrame = {
    val e = col("event_id"); val u = col("user_id")
    val us = unix_micros(col("ts"))
    val bits = lit(0x3F800000L)
      .bitwiseOR(e % 8388608L)
      .bitwiseOR(when(u % 2 === 1, 0x80000000L).otherwise(0L))
    val d = Seq(
      bits.bitwiseAND(255), shiftrightunsigned(bits, 8).bitwiseAND(255),
      shiftrightunsigned(bits, 16).bitwiseAND(255), shiftrightunsigned(bits, 24).bitwiseAND(255),
      e.bitwiseAND(255), shiftrightunsigned(e, 8).bitwiseAND(255),
      shiftrightunsigned(e, 16).bitwiseAND(255), shiftrightunsigned(e, 24).bitwiseAND(255))
    val payloadHex = concat(d.map(hex2): _*)
    fanEv(ev, "event_id", "user_id", "ts").select(
      format_string("(%d.%06d) vcan0 300#%s",
        expr("unix_micros(ts) div 1000000"), us % 1000000L, payloadHex).as("value"))
  }

  /** Standalone network for qc_sig_valtype: standard-DBC `SIG_VALTYPE_`
    * IEEE declarations (float32 with scaling + a full-payload float64),
    * the dbcppp decode behavior the reference gets implicitly
    * (the reference's `src/decoder.cpp:87`) and graft decodes natively
    * ([[graft.plans.LongBitsToDouble]]).
    */
  val valTypeDbc =
    """BO_ 1040 MF: 8 E
      | SG_ FV : 0|32@1+ (0.5,3) [0|0] "" X
      | SG_ SEQ2 : 32|32@1+ (1,0) [0|0] "" X
      |BO_ 1296 MD: 8 E
      | SG_ DV : 0|64@1+ (1,0) [0|0] "" X
      |
      |SIG_VALTYPE_ 1040 FV : 1;
      |SIG_VALTYPE_ 1296 DV : 2;
      |""".stripMargin

  /** events → candump lines for qc_sig_valtype: per event one MF frame
    * (float32 bits `0x3F800000 | m`, m = event_id % 2^23 ⇒ value 1 + m/2^23,
    * exact in float AND double so DuckDB can restate it arithmetically) at
    * us = event_id*2, and one MD frame (double bits `0x3FF... | m` with
    * sign from user_id parity ⇒ ±(1 + m/2^52), exact) at us = event_id*2+1
    * — unique timestamps are the row key.
    */
  def valTypeLines(ev: DataFrame): DataFrame = {
    val e = col("event_id"); val u = col("user_id")
    def leHex(bits: Column): Column =
      concat((0 until 8).map(b =>
        hex2(shiftrightunsigned(bits, 8 * b).bitwiseAND(255))): _*)
    val fbits = lit(0x3F800000L).bitwiseOR(e % 8388608L).bitwiseOR(
      shiftleft(e.cast("long"), 32)) // bytes 4-7: SEQ2 = event_id
    val dbits = lit(0x3FF0000000000000L).bitwiseOR(e % 8388608L)
      .bitwiseOR(when(u % 2 === 1, Long.MinValue).otherwise(0L))
    val seed = fanEv(ev, "event_id", "user_id")
    val fLine = seed.select(format_string("(%d.%06d) vcan0 410#%s",
      expr("(event_id*2) div 1000000"), expr("(event_id*2) % 1000000"),
      leHex(fbits)).as("value"))
    val dLine = seed.select(format_string("(%d.%06d) vcan0 510#%s",
      expr("(event_id*2+1) div 1000000"), expr("(event_id*2+1) % 1000000"),
      leHex(dbits)).as("value"))
    fLine.union(dLine)
  }

  /** Standalone network for qc_mux_extended: standard-DBC extended
    * multiplexing (`SG_MUL_VAL_` — [[graft.dbc.Mux.ExtRanges]]): EA gates
    * on SEL ∈ [1,3] ∪ {7} instead of its simple `m1` value; EB keeps plain
    * `m2` semantics. Beyond-reference: the reference's decode loop is
    * simple-mux only (its `src/decoder.cpp:85-88`).
    */
  val extMuxDbc =
    """BO_ 1632 MX: 8 E
      | SG_ SEL M : 0|8@1+ (1,0) [0|0] "" X
      | SG_ EA m1 : 8|8@1+ (1,0) [0|0] "" X
      | SG_ EB m2 : 16|8@1+ (1,0) [0|0] "" X
      |
      |SG_MUL_VAL_ 1632 EA SEL 1-3, 7-7;
      |""".stripMargin

  /** qc_dbc_noise: [[extMuxDbc]] wrapped in the full real-world grammar
    * noise a tool-exported DBC carries — BOM, CRLF, `VERSION`, an `NS_`
    * keyword list with trailing whitespace (names `SIG_VALTYPE_` /
    * `SG_MUL_VAL_` as bare entries), `BS_`/`BU_`, attributes, a global
    * `VAL_TABLE_`, and a MULTI-LINE `CM_` comment whose body contains
    * statement lookalikes (a phantom `SG_`, a `SIG_VALTYPE_` that would
    * throw if consumed). The reference tolerates all of this via dbcppp;
    * the gate proves the decode is byte-identical to the clean parse —
    * oracle SQL shared with qc_mux_extended.
    */
  val noisyExtMuxDbc: String =
    ("\uFEFF" +
      """VERSION "created by canmatrix 0.9.5"
        |
        |NS_ :
        |	NS_DESC_
        |	CM_
        |	BA_DEF_
        |	SIG_VALTYPE_
        |	SG_MUL_VAL_
        |	VAL_TABLE_
        |
        |BS_:
        |
        |BU_ ECU1 GW
        |
        |""".stripMargin + extMuxDbc +
      """
        |CM_ SG_ 1632 SEL "selector, see spec
        | SG_ PhantomSig : 24|8@1+ (1,0) [0|0] "" X
        |SIG_VALTYPE_ 1632 EA : 2;
        |end of comment";
        |BA_DEF_ BO_ "GenMsgCycleTime" INT 0 3600000;
        |BA_ "GenMsgCycleTime" BO_ 1632 100;
        |VAL_TABLE_ OnOff 0 "Off" 1 "On";
        |""".stripMargin).replace("\n", "\r\n")

  /** events → candump lines for qc_mux_extended: one frame per event at
    * us = event_id (unique key); byte 0 = SEL (event_id % 9, covering
    * values inside and outside EA's ranges), byte 1 = EA (user_id & 255),
    * byte 2 = EB ((event_id*13+5) & 255).
    */
  def extMuxLines(ev: DataFrame): DataFrame = {
    val e = col("event_id"); val u = col("user_id")
    val payloadHex = concat(Seq(
      e % 9, u.bitwiseAND(255), (e * 13 + 5).bitwiseAND(255)).map(hex2): _*)
    fanEv(ev, "event_id", "user_id").select(
      format_string("(%d.%06d) vcan0 660#%s",
        expr("event_id div 1000000"), expr("event_id % 1000000"),
        payloadHex).as("value"))
  }
}
