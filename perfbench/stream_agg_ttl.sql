-- The reference test.sql pipeline: a datagen source with a 5 s
-- watermark, GROUP BY dim and time bucket with five aggregates, printed.
-- ${rate} sets the source rate and ${sink} the print identifier.
--
-- The state TTL, shorter than a run, sends the GROUP BY through
-- UnboundedAggTracker: JSON state, exact distinct, idle-key timers.
--
-- The bucket is computed once in a view as a bigint, Flink's integer
-- division. Written verbatim in the GROUP BY, Spark would group by the
-- double unix_timestamp(...)/60, one key per second.
--
-- test.sql buckets by minute; here a bucket is 10 s, so a run sees
-- a whole bucket's life: its state grows, then expires under a TTL.
-- With minute buckets a run's batch cost and heap depend on where in
-- the minute it falls.
SET pipeline.name = perfbench-stream-agg;
SET table.exec.state.ttl = 5 s;
SET table.exec.mini-batch.enabled = true;
SET table.exec.mini-batch.allow-latency = 1s;
SET table.exec.mini-batch.size = 5000;

create table if not exists tbl_aggregate_source (
  dim string,
  user_id bigint,
  price double,
  row_time as cast(current_timestamp as timestamp(3)),
  watermark for row_time as row_time - interval '5' second
) with (
  'connector' = 'datagen',
  'rows-per-second' = '${rate}',
  'fields.dim.length' = '1',
  'fields.user_id.min' = '1',
  'fields.user_id.max' = '100000',
  'fields.price.min' = '50',
  'fields.price.max' = '1000'
);

create table if not exists tbl_aggregate_sink (
  dim string,
  pv bigint,
  uv bigint,
  sum_price double,
  max_price double,
  min_price double,
  window_start bigint
) with (
  'connector' = 'print',
  'print-identifier' = '${sink}'
);

create or replace temporary view tbl_aggregate_buckets as
select dim, user_id, price, row_time,
  cast(unix_timestamp(cast(row_time as string)) / 10 as bigint) as window_start
from tbl_aggregate_source;

insert into tbl_aggregate_sink
select dim,
  count(*) as pv,
  count(distinct user_id) as uv,
  sum(price) as sum_price,
  max(price) as max_price,
  min(price) as min_price,
  window_start
from tbl_aggregate_buckets
group by dim, window_start;
