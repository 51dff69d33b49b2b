package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{AckDelivery, SinkSpec}
import graft.streaming.AckDelivery.DeliveryCommand

/** The last wiring of the delivery path: take a BUILT consumer pipeline
  * (CdcPipeline.build output), the consumer's validated [[SinkSpec]],
  * and an environment of endpoints/credentials, and run the full
  * wire → live transport → ack/nack chain for that sink type — the
  * Spark rendition of `sink_pipeline.ex:437-456`'s dispatch table.
  *
  * Each arm composes three existing, separately-specced layers:
  * the sink's WIRE adapter (oracle-checked columns), its protocol
  * CLIENT (loopback-specced socket/HTTP), and the
  * [[AckDelivery.DeliveryCommand]] bridge. Nothing here invents
  * behavior — this object only routes, so one config line switches a
  * pipeline between transports exactly like the reference's
  * `sink_module/1`.
  *
  * `Env` carries only what the chosen transport needs; unset fields
  * fail fast with the sink type named (config error, not a mid-stream
  * surprise).
  */
object SinkDispatch {

  /** Transport endpoints/credentials, injected by the runtime (the
    * reference resolves these from the sink row's columns).
    */
  final case class Env(
      host: String = "",
      port: Int = 0,
      httpBase: String = "",
      apiKey: String = "",
      awsCreds: Option[SqsClient.Credentials] = None,
      gcpCreds: Option[PubSubClient.Credentials] = None,
      gcpProject: String = "",
      sasCreds: Option[EventHubClient.SasCredentials] = None,
      bearerToken: String = "",
      // request headers for http_push — resolved (vault-revealed) by the
      // management plane at consumer start, the decrypt-at-client-
      // construction point of the reference's encrypted_headers
      headers: Seq[(String, String)] = Nil)

  /** One uniform delivery outcome row, whatever the transport.
    * `ack_id` is the event's idempotency key and `group_id` its
    * AckDelivery ledger group (`__pk:`-fallback form) — the SAME
    * identity [[AckDelivery.run]] keys its in-flight map with, carried
    * end to end through the wire adapters and transport clients, so
    * [[commands]] output closes the at-least-once loop instead of
    * no-op'ing against ids the ledger never issued. */
  final case class Outcome(ack_id: String, group_id: String, ok: Boolean,
      err: String)

  private def need(cond: Boolean, sinkType: String, what: String): Unit =
    require(cond, s"sink '$sinkType' requires $what in the dispatch Env")

  /** Route `pipeline` (a CdcPipeline.build output) through `spec`'s
    * transport; returns per-delivery outcomes.
    */
  def deliver(pipeline: DataFrame, spec: SinkSpec, env: Env)(
      implicit spark: SparkSession): Dataset[Outcome] = {
    import spark.implicits._
    spec.sinkType match {
      case "redis_stream" =>
        need(env.host.nonEmpty && env.port > 0, spec.sinkType, "host/port")
        RespClient.deliver(
            RespClient.streamRequests(SinkAdapters.redisStreamWire(pipeline)),
            env.host, env.port)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "redis_string" =>
        need(env.host.nonEmpty && env.port > 0, spec.sinkType, "host/port")
        RespClient.deliver(
            RespClient.stringRequests(SinkAdapters.redisStringWire(pipeline)),
            env.host, env.port)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "nats" =>
        need(env.host.nonEmpty && env.port > 0, spec.sinkType, "host/port")
        NatsClient.deliver(
            NatsClient.requests(SinkAdapters.natsWire(pipeline)),
            env.host, env.port)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "kafka" =>
        need(env.host.nonEmpty && env.port > 0, spec.sinkType, "host/port")
        KafkaProduceClient.deliver(
            KafkaProduceClient.requests(SinkAdapters.kafkaWire(
              graft.ops.Routing.kafka(pipeline))),
            env.host, env.port)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "rabbitmq" =>
        need(env.host.nonEmpty && env.port > 0, spec.sinkType, "host/port")
        AmqpClient.deliver(
            AmqpClient.requests(SinkAdapters.rabbitmqWire(pipeline,
              spec.settings.getOrElse("exchange", "sequin"))),
            env.host, env.port)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "http_push" =>
        need(env.httpBase.nonEmpty, spec.sinkType, "httpBase")
        // one POST carries a whole batch; its outcome fans out to one
        // ledger ack/nack PER MEMBER event (the wire's member_ids)
        val wire = SinkAdapters.httpPushBatchedWire(pipeline, env.httpBase,
          batchSize = spec.settings.get("batch_size")
            .map(_.toInt).getOrElse(10))
        val results = HttpPushClient.deliver(
          HttpPushClient.batchedRequests(wire),
          HttpRetryPolicy.Policy(), realSleep = false,
          headers = env.headers)
        val members = wire.select(
          concat_ws("-", col("partition"), col("batch_idx")).as("batch_key"),
          explode(col("member_ids")).as("m"))
        results.toDF().join(members, col("ack_id") === col("batch_key"))
          .select(col("m.ack_id").as("member_ack_id"),
            col("m.ledger_group_id").as("member_group_id"),
            col("delivered"), col("final_status"))
          .as[(String, String, Boolean, Int)]
          .map { case (ackId, groupId, ok, status) =>
            Outcome(ackId, groupId, ok, if (ok) "" else s"status $status")
          }
      case "elasticsearch" =>
        need(env.httpBase.nonEmpty, spec.sinkType, "httpBase")
        val index = spec.settings.getOrElse("index_name", "events")
        EsBulkClient.deliver(
            EsBulkClient.requests(SinkAdapters.esBulkWire(pipeline, index)),
            env.httpBase, index)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "typesense" =>
        need(env.httpBase.nonEmpty, spec.sinkType, "httpBase")
        TypesenseClient.deliver(
            TypesenseClient.requests(SinkAdapters.typesenseWire(pipeline)),
            env.httpBase, env.apiKey)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "meilisearch" =>
        need(env.httpBase.nonEmpty, spec.sinkType, "httpBase")
        MeilisearchClient.deliver(
            MeilisearchClient.requests(SinkAdapters.meilisearchWire(pipeline,
              spec.settings.getOrElse("index_name", "events"))),
            env.httpBase, env.apiKey, realSleep = false)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "sqs" =>
        need(env.httpBase.nonEmpty && env.awsCreds.nonEmpty, spec.sinkType,
          "httpBase + awsCreds")
        SqsClient.deliver(
            SqsClient.requests(SinkAdapters.sqsWire(pipeline,
              spec.settings.getOrElse("queue_url", "https://sqs/q"))),
            env.httpBase, env.awsCreds.get)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "sns" =>
        need(env.httpBase.nonEmpty && env.awsCreds.nonEmpty, spec.sinkType,
          "httpBase + awsCreds")
        // FIFO comes off the SINK SPEC, not a hardcode — the reference
        // gates on `consumer.sink.is_fifo` (sns_pipeline.ex:88), derived
        // there from the `.fifo` topic suffix; an explicit `is_fifo`
        // setting overrides. The SAME verdict feeds the wire adapter
        // (group/dedup entry fields) and the client (publish params), so
        // a standard topic never receives FIFO-only parameters and a
        // FIFO topic never loses them.
        val topicArn = spec.settings.getOrElse("topic_arn", "arn:aws:sns:t")
        val isFifo = spec.settings.get("is_fifo").map(_.toBoolean)
          .getOrElse(topicArn.endsWith(".fifo"))
        SnsClient.deliver(
            SnsClient.requests(SinkAdapters.snsWire(pipeline, topicArn,
              isFifo = isFifo)),
            env.httpBase, env.awsCreds.get, fifo = isFifo)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "kinesis" =>
        need(env.httpBase.nonEmpty && env.awsCreds.nonEmpty, spec.sinkType,
          "httpBase + awsCreds")
        KinesisClient.deliver(
            KinesisClient.requests(SinkAdapters.kinesisWire(pipeline,
              spec.settings.getOrElse("stream_arn", "arn:aws:kinesis:s"))),
            env.httpBase, env.awsCreds.get)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "gcp_pubsub" =>
        need(env.httpBase.nonEmpty && env.gcpCreds.nonEmpty, spec.sinkType,
          "httpBase + gcpCreds")
        PubSubClient.deliver(
            PubSubClient.requests(SinkAdapters.pubsubWire(
              graft.ops.Routing.gcpPubsub(pipeline))),
            env.httpBase, env.gcpProject, env.gcpCreds.get)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "azure_event_hub" =>
        need(env.httpBase.nonEmpty && env.sasCreds.nonEmpty, spec.sinkType,
          "httpBase + sasCreds")
        EventHubClient.deliver(
            EventHubClient.requests(SinkAdapters.eventHubWire(pipeline,
              spec.settings.getOrElse("event_hub_name", "hub"))),
            env.httpBase, env.sasCreds.get)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case "s2" =>
        need(env.httpBase.nonEmpty, spec.sinkType, "httpBase")
        S2Client.deliver(
            S2Client.requests(SinkAdapters.s2Wire(pipeline,
              spec.settings.getOrElse("basin", "b"),
              spec.settings.getOrElse("stream", "s"))),
            env.httpBase, env.bearerToken)
          .map(r => Outcome(r.ack_id, r.group_id, r.ok, r.err))
      case other =>
        throw new IllegalArgumentException(
          s"no transport dispatch for sink type '$other'")
    }
  }

  /** [[deliver]] + observability: one micro-batch's outcomes collected
    * (bounded by the batch — this is the `foreachBatch` consumption
    * point where the runtime turns outcomes into ack/nack commands
    * anyway) and folded into the plane's Prometheus registry
    * (attempt/success/failure counters + delivery-latency histogram,
    * the reference's `increment_message_deliver_*` /
    * `observe_delivery_latency` feeds) and the consumer's health entity
    * (`messages_delivered` success/fail — the check the console badge
    * reads). The pipeline itself is untouched; observability is a
    * side-channel on the already-materialized outcome rows.
    */
  def deliverObserved(pipeline: DataFrame, spec: SinkSpec, env: Env,
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String, consumerName: String)(
      implicit spark: SparkSession): Seq[Outcome] =
    deliverObservedDs(deliver(pipeline, spec, env), metrics, health,
      consumerId, consumerName)

  /** [[deliverObserved]] over an ALREADY-CONSTRUCTED outcome Dataset —
    * the plan-reuse entry point: a caller dispatching the same (feed-
    * backed) plan repeatedly pays analysis once and this collect per
    * batch. Observability identical to [[deliverObserved]].
    */
  def deliverObservedDs(ds: Dataset[Outcome],
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String, consumerName: String): Seq[Outcome] =
    observedCollect(() => ds.collect().toSeq, metrics, health, consumerId,
      consumerName)

  /** RDD form of [[deliverObservedDs]] — the plan-reuse hot path: a
    * cached `ds.rdd` has its whole DAG (incl. compiled codegen stages)
    * pinned, so each action pays only the scheduler floor, none of the
    * per-execution SQL-layer work. Valid only where no Observation
    * rides the plan (RDD actions emit no SQL execution events).
    */
  def deliverObservedRdd(rdd: org.apache.spark.rdd.RDD[Outcome],
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String, consumerName: String): Seq[Outcome] =
    observedCollect(() => rdd.collect().toSeq, metrics, health, consumerId,
      consumerName)

  private def observedCollect(run: () => Seq[Outcome],
      metrics: graft.config.Metrics.Registry,
      health: graft.config.Health.Registry,
      consumerId: String, consumerName: String): Seq[Outcome] = {
    val t0 = System.nanoTime()
    val outcomes = run()
    val elapsedUs = (System.nanoTime() - t0) / 1000.0
    metrics.recordOutcomes(consumerId, consumerName, outcomes)
    if (outcomes.nonEmpty) {
      // ONE observation per delivery (the reference's per-message
      // observe_delivery_latency semantics): the batch wall time is
      // amortized equally — _count matches delivery count, so
      // sum/count reads as true mean per-delivery latency
      val perDeliveryUs = elapsedUs / outcomes.size
      outcomes.foreach(o =>
        metrics.observeDeliveryLatencyUs(consumerId, consumerName, o.ok,
          perDeliveryUs))
      val failures = outcomes.filterNot(_.ok)
      health.putEvent("sink_consumer", consumerId, "messages_delivered",
        if (failures.isEmpty) "success" else "fail",
        if (failures.isEmpty) None
        else Some(s"${failures.size}/${outcomes.size} deliveries failed: " +
          failures.head.err))
    }
    outcomes
  }

  /** Outcomes → the delivery state machine's ack/nack commands. */
  def commands(outcomes: Dataset[Outcome])(
      implicit spark: SparkSession): Dataset[DeliveryCommand] = {
    import spark.implicits._
    outcomes.map { o =>
      if (o.ok) AckDelivery.DeliveryCommand.ack(o.group_id, o.ack_id)
      else AckDelivery.DeliveryCommand.nack(o.group_id, o.ack_id)
    }
  }
}
