package graft.streaming

/** Shard-iterator start position — the four modes of consumer.go:125-130
  * plus the RFC3339 `--since` parse with fail-fast on invalid input
  * (consumer.go:48-51,63-72; §2 C10/D3). The one parse site for these
  * inputs: the `graft-shards` source resolves its `iterator` / `since` /
  * `seq` options through it, and `graft.Cli consume` calls it before any
  * stream starts.
  */
sealed trait StartPosition
object StartPosition {
  case object Latest extends StartPosition
  case object TrimHorizon extends StartPosition
  final case class AtSequenceNumber(seq: Long) extends StartPosition
  final case class AtTimestamp(ts: java.time.Instant) extends StartPosition

  /** Parse CLI-shaped inputs. Mirrors the reference exactly:
    *  - invalid RFC3339 `since` under AT_TIMESTAMP fails fast with the
    *    reference's message shape (consumer.go:50);
    *  - AT_TIMESTAMP with no `since` uses the zero time — the reference
    *    sends Go's zero `time.Time`, i.e. everything (consumer.go:63-72);
    *  - the reference never wires a sequence number for AT_SEQUENCE_NUMBER
    *    (GetShardIteratorInput lacks it, consumer.go:125-130 — the AWS call
    *    would fail); here it is implemented properly via `seq`.
    */
  def parse(iteratorType: String, since: Option[String] = None,
      seq: Option[Long] = None): StartPosition = iteratorType match {
    case "LATEST"       => Latest
    case "TRIM_HORIZON" => TrimHorizon
    case "AT_SEQUENCE_NUMBER" =>
      AtSequenceNumber(seq.getOrElse(
        throw new IllegalArgumentException("AT_SEQUENCE_NUMBER needs a sequence number")))
    case "AT_TIMESTAMP" =>
      since match {
        case None => AtTimestamp(java.time.Instant.EPOCH)
        case Some(s) =>
          try AtTimestamp(java.time.OffsetDateTime.parse(s).toInstant)
          catch {
            case e: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"--since needs to be in RFC3339 format. $s: ${e.getMessage}")
          }
      }
    case other => throw new IllegalArgumentException(s"unknown iterator type $other")
  }
}
