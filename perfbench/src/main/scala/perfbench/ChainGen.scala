package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.etl.{ChainFixture, EtlJob}

/** Seeded chain for `etl_catchup`, in ChainFixture's line format and with
  * its listing and catalog payloads. The seed sets the event mix: which
  * blocks carry how many logs, the share of listing, catalog and foreign
  * events, how many listings violate REQUIRED (null listing_id), how many
  * products a catalog has, and how many lines are replayed verbatim (the
  * at-least-once duplicates the consumer's dedup view removes). The
  * shares vary within narrow ranges, so every seed's chain has about the
  * same size and costs about the same per cycle.
  *
  * The program receives only the written files. The generator keeps, per
  * block, what it planted, so every cycle and read is checked exactly.
  */
final class ChainGen(val blocks: Int, seed: Long) {
  val epoch: Long = ChainFixture.Epoch
  /** Per block: valid marketplace lines (replays included). */
  val mLines = new Array[Int](blocks)
  /** Per block: distinct valid (block_number, log_index) keys. */
  val mKeys = new Array[Int](blocks)
  /** Per block: rejected (REQUIRED-violating) marketplace lines. */
  val rejects = new Array[Int](blocks)
  /** Per block: dshop product rows (replays included). */
  val dRows = new Array[Int](blocks)
  /** Per block: bytes of NDJSON the block occupies. */
  val bytes = new Array[Long](blocks)

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val pListing = 0.33 + 0.04 * rnd.nextDouble()
    val pDshop = 0.18 + 0.04 * rnd.nextDouble()
    val pNoise = 0.18 + 0.04 * rnd.nextDouble()
    val pBad = 0.015 + 0.01 * rnd.nextDouble()
    val pReplay = 0.02 + 0.01 * rnd.nextDouble()
    val out = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(dir.resolve("blocks.ndjson")), StandardCharsets.UTF_8), 1 << 20)
    try {
      var i = 0
      while (i < blocks) {
        val b = epoch + i
        val nLogs = rnd.nextInt(3)
        var li = 0
        while (li < nLogs) {
          val u = rnd.nextDouble()
          val replays = if (rnd.nextDouble() < pReplay) 2 else 1
          val line =
            if (u < pListing) {
              val bad = rnd.nextDouble() < pBad
              if (bad) rejects(i) += replays
              else { mLines(i) += replays; mKeys(i) += 1 }
              ChainGen.line(b, li, EtlJob.MarketplaceAddr, EtlJob.MarketplaceTopic,
                Some(ChainFixture.listingPayload(b * 4 + li, bad)))
            } else if (u < pListing + pDshop) {
              val n = 1 + rnd.nextInt(5)
              dRows(i) += n * replays
              ChainGen.line(b, li, EtlJob.MarketplaceAddr, EtlJob.DshopTopic,
                Some(ChainFixture.catalogPayload(b * 4 + li, n)))
            } else if (u < pListing + pDshop + pNoise)
              ChainGen.line(b, li, "0x_other", "Transfer", None)
            else // a contract event of another topic: filtered out
              ChainGen.line(b, li, EtlJob.MarketplaceAddr, "Approval", None)
          var r = 0
          while (r < replays) {
            out.write(line); out.write('\n')
            bytes(i) += line.getBytes(StandardCharsets.UTF_8).length + 1
            r += 1
          }
          li += 1
        }
        i += 1
      }
    } finally out.close()
  }

  private def sum(a: Array[Int], from: Long, to: Long): Long = {
    var s = 0L
    var b = math.max(from, epoch)
    while (b <= math.min(to, epoch + blocks - 1)) { s += a((b - epoch).toInt); b += 1 }
    s
  }

  def marketplaceRows(from: Long, to: Long): Long = sum(mLines, from, to)
  def dshopRows(from: Long, to: Long): Long = sum(dRows, from, to)
  def rejectRows(from: Long, to: Long): Long = sum(rejects, from, to)
  def dedupRows(to: Long): Long = sum(mKeys, epoch, to)
  def rangeBytes(from: Long, to: Long): Long = {
    var s = 0L
    var b = math.max(from, epoch)
    while (b <= math.min(to, epoch + blocks - 1)) { s += bytes((b - epoch).toInt); b += 1 }
    s
  }
  def totalBytes: Long = bytes.sum
}

object ChainGen {
  /** ChainFixture's NDJSON line: one event log with its payload as an
    * escaped JSON string. */
  def line(block: Long, logIndex: Long, addr: String, topic: String,
      payload: Option[String]): String = {
    val p = payload.map(s => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\"").getOrElse("null")
    s"""{"block_number": $block, "log_index": $logIndex, "address": "$addr", "topic0": "$topic", "payload": $p}"""
  }
}
