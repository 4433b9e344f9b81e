package flinkrunner_spark.jvm;

import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.HashMap;
import java.util.Iterator;
import java.util.List;
import java.util.Map;

import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.api.java.function.MapFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.sql.streaming.GroupStateTimeout;
import org.apache.spark.sql.streaming.OutputMode;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

import static scala.jdk.javaapi.CollectionConverters.asScala;

/**
 * Keep-first dedup of a stream on Spark's keyed state, one state row per
 * hash bucket of the dedup key.
 *
 * <p>The input carries two hidden columns next to its own: {@code _bucket},
 * the bucket of the row's key, and {@code _ts_us}, its event time in epoch
 * micros (null for a null time). Per micro-batch each touched bucket emits
 * the (time, id)-min row of every key of the batch it has not seen, and
 * records that key; a null time sorts last. The output has the input's
 * columns without the hidden two.
 *
 * <p>A bucket's state is one row: {@code keys array<struct<key columns>>}
 * and, with a TTL, {@code stamps array<bigint>}, each key's last event
 * time. TTL rules: the bucket's clock is the max time of the batch and of
 * its stamps; keys stamped before {@code clock - ttl} are evicted before
 * the batch is tested; every sighting refreshes its key's stamp to the
 * key's last time in the batch. A bucket whose state did not change is
 * not written.
 */
public final class KeepFirstDedup {

  public static final String BUCKET = "_bucket";
  public static final String TS_US = "_ts_us";

  private KeepFirstDedup() {}

  /**
   * Deduplicates {@code keyed} on {@code keyCols}, ties on the time broken
   * by {@code idCol}; a negative {@code ttlUs} keeps every key forever.
   */
  public static Dataset<Row> apply(
      Dataset<Row> keyed, List<String> keyCols, String idCol, long ttlUs) {
    StructType in = keyed.schema();
    StructType out = new StructType();
    List<Integer> outIdx = new ArrayList<>();
    for (int i = 0; i < in.fields().length; i++) {
      StructField f = in.fields()[i];
      if (!f.name().equals(BUCKET) && !f.name().equals(TS_US)) {
        out = out.add(f);
        outIdx.add(i);
      }
    }
    StructType keyType = new StructType();
    int[] keyIdx = new int[keyCols.size()];
    for (int i = 0; i < keyIdx.length; i++) {
      keyIdx[i] = in.fieldIndex(keyCols.get(i));
      keyType = keyType.add(keyCols.get(i), in.fields()[keyIdx[i]].dataType(), true);
    }
    StructType state = new StructType()
        .add("keys", DataTypes.createArrayType(keyType, false), false);
    if (ttlUs >= 0) {
      state = state.add("stamps", DataTypes.createArrayType(DataTypes.LongType, false), false);
    }
    int bucket = in.fieldIndex(BUCKET);
    Step step = new Step(
        keyIdx, outIdx.stream().mapToInt(Integer::intValue).toArray(),
        in.fieldIndex(TS_US), in.fieldIndex(idCol), ttlUs);
    return keyed
        .groupByKey((MapFunction<Row, Long>) r -> r.getLong(bucket), Encoders.LONG())
        .flatMapGroupsWithState(
            step, OutputMode.Append(), Encoders.row(state), Encoders.row(out),
            GroupStateTimeout.NoTimeout());
  }

  /** One bucket's micro-batch. */
  static final class Step implements FlatMapGroupsWithStateFunction<Long, Row, Row, Row> {

    private final int[] keyIdx;
    private final int[] stateKeyIdx;
    private final int[] outIdx;
    private final int tsIdx;
    private final int idIdx;
    private final long ttlUs;

    Step(int[] keyIdx, int[] outIdx, int tsIdx, int idIdx, long ttlUs) {
      this.keyIdx = keyIdx;
      this.stateKeyIdx = new int[keyIdx.length];
      for (int i = 0; i < keyIdx.length; i++) {
        stateKeyIdx[i] = i;
      }
      this.outIdx = outIdx;
      this.tsIdx = tsIdx;
      this.idIdx = idIdx;
      this.ttlUs = ttlUs;
    }

    @Override
    public Iterator<Row> call(Long bucket, Iterator<Row> rows, GroupState<Row> state) {
      Map<List<Object>, Sighting> batch = new HashMap<>();
      while (rows.hasNext()) {
        Row r = rows.next();
        Sighting s = new Sighting(r, r.isNullAt(tsIdx) ? null : r.getLong(tsIdx), r.get(idIdx));
        batch.merge(key(r, keyIdx), s, Sighting::merge);
      }
      if (batch.isEmpty()) {
        return Collections.emptyIterator();
      }
      List<Row> keys = state.exists() ? state.get().getList(0) : List.of();
      List<Row> nextKeys = new ArrayList<>(keys.size() + batch.size());
      boolean changed;
      if (ttlUs < 0) {
        for (Row k : keys) {
          batch.remove(key(k, stateKeyIdx));
        }
        nextKeys.addAll(keys);
        for (Sighting s : batch.values()) {
          nextKeys.add(s.keyRow(keyIdx));
        }
        changed = !batch.isEmpty();
        if (changed) {
          state.update(RowFactory.create(asScala(nextKeys)));
        }
      } else {
        List<Long> stamps = state.exists() ? state.get().getList(1) : List.of();
        long clock = Long.MIN_VALUE;
        for (Sighting s : batch.values()) {
          clock = Math.max(clock, s.last);
        }
        for (long t : stamps) {
          clock = Math.max(clock, t);
        }
        long horizon = clock < Long.MIN_VALUE + ttlUs ? Long.MIN_VALUE : clock - ttlUs;
        List<Long> nextStamps = new ArrayList<>(keys.size() + batch.size());
        changed = false;
        for (int i = 0; i < keys.size(); i++) {
          long t = stamps.get(i);
          if (t < horizon) {
            changed = true; // evicted: a later sighting re-emits
            continue;
          }
          Sighting s = batch.remove(key(keys.get(i), stateKeyIdx));
          if (s != null && s.last > t) {
            t = s.last;
            changed = true;
          }
          nextKeys.add(keys.get(i));
          nextStamps.add(t);
        }
        for (Sighting s : batch.values()) {
          nextKeys.add(s.keyRow(keyIdx));
          nextStamps.add(s.last);
          changed = true;
        }
        if (changed) {
          state.update(RowFactory.create(asScala(nextKeys), asScala(nextStamps)));
        }
      }
      // what is left in the batch is its unseen keys
      List<Sighting> kept = new ArrayList<>(batch.values());
      kept.sort(null);
      List<Row> emitted = new ArrayList<>(kept.size());
      for (Sighting s : kept) {
        Object[] vals = new Object[outIdx.length];
        for (int j = 0; j < outIdx.length; j++) {
          vals[j] = s.first.get(outIdx[j]);
        }
        emitted.add(RowFactory.create(vals));
      }
      return emitted.iterator();
    }
  }

  /**
   * The lookup key of {@code r}'s {@code idx} columns: values compare as
   * the batch {@code PARTITION BY} groups them (-0.0 equals 0.0, binary by
   * content, null equals null).
   */
  static List<Object> key(Row r, int[] idx) {
    Object[] k = new Object[idx.length];
    for (int i = 0; i < idx.length; i++) {
      Object v = r.get(idx[i]);
      if (v instanceof Double && (Double) v == 0.0) {
        v = 0.0;
      } else if (v instanceof Float && (Float) v == 0.0f) {
        v = 0.0f;
      } else if (v instanceof byte[]) {
        v = ByteBuffer.wrap((byte[]) v);
      }
      k[i] = v;
    }
    return Arrays.asList(k);
  }

  /** A key's rows in one batch: its (time, id)-min row and last time. */
  static final class Sighting implements Comparable<Sighting> {

    Row first;
    long order; // the first row's time, a null time sorting last
    Object id;
    long last; // the key's max time, Long.MIN_VALUE for null times only

    Sighting(Row r, Long ts, Object id) {
      this.first = r;
      this.order = ts == null ? Long.MAX_VALUE : ts;
      this.id = id;
      this.last = ts == null ? Long.MIN_VALUE : ts;
    }

    Sighting merge(Sighting o) {
      if (o.compareTo(this) < 0) {
        first = o.first;
        order = o.order;
        id = o.id;
      }
      last = Math.max(last, o.last);
      return this;
    }

    Row keyRow(int[] keyIdx) {
      Object[] k = new Object[keyIdx.length];
      for (int i = 0; i < keyIdx.length; i++) {
        k[i] = first.get(keyIdx[i]);
      }
      return RowFactory.create(k);
    }

    @Override
    @SuppressWarnings("unchecked")
    public int compareTo(Sighting o) {
      int c = Long.compare(order, o.order);
      if (c != 0 || id == o.id) {
        return c;
      }
      if (id == null || o.id == null) {
        return id == null ? 1 : -1;
      }
      return ((Comparable<Object>) id).compareTo(o.id);
    }
  }
}
